package graft.tables

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge.WrittenFile
import org.apache.spark.sql.types._

/** One committed snapshot of a table. IN MEMORY, `files` is the FULL
  * live file list (relative to the table's data dir), not a delta — so
  * any snapshot is readable on its own (time travel, S10) and expiring
  * old snapshots never breaks later ones. ON DISK, the file list (with
  * per-file rows/specs/column bounds) lives in immutable MANIFEST CHUNK
  * files ([[ManifestStore]]) that the commit json references by name —
  * the persisted json is O(this commit's delta), so commit metadata
  * cost stays flat as the live file count grows (Iceberg's
  * manifest-list design; the reference's tables are all Iceberg
  * format-version 2). Reading a commit ([[GraftTable.head]],
  * [[GraftTable.snapshot]]) resolves its chunk references back into the
  * full in-memory view once per handle. Every field is required on
  * disk: a json missing one, or holding null where a value is
  * required, is rejected on read (see [[GraftTable.readJson]]).
  *
  *  - `sinkBatches` — streaming sink id → last micro-batch committed
  *    into the table ([[GraftTable.withSinkMark]]); carried forward on
  *    every commit, so the latest commit is authoritative.
  *  - `fileRows` — per-file row counts (Iceberg's manifest
  *    `record_count` analog), carried commit to commit; only files a
  *    commit ADDED take theirs from the writer that wrote them, so
  *    commit metadata cost stays O(new files), not O(table).
  *  - `changeFiles` — for a copy-on-write upsert commit: the subset of
  *    this commit's files holding EXACTLY the upserted batch (the
  *    survivors were rewritten into separate files), i.e. the commit's
  *    logical change set — Iceberg's changelog scan derives the same
  *    rows from the equality-delete files a v2 MERGE writes. Empty on
  *    every other op (and on an upsert of zero rows, whose change set
  *    is empty).
  *  - `deleteFiles` — for a change-tracked replace commit
  *    (`replace-cdc`): files holding EXACTLY the rows the commit
  *    removed — the engine's analog of Iceberg v2's delete files,
  *    written only when the caller opted into change tracking (the
  *    extra O(deleted) write is a real cost the default repair path
  *    must not pay). NOT part of the live file set; referenced by the
  *    commit so orphan cleanup spares them until the commit expires.
  *  - `schemaDdl` — the table's LOGICAL schema as of this commit
  *    (Iceberg pins a schema-id per snapshot the same way). Carried
  *    forward on every commit once an evolve-schema commit sets it, so
  *    expiring the evolve commit itself never loses the schema; None on
  *    never-evolved tables, whose schema is the declared TableDef one.
  *  - `morDeleteFiles` — PENDING equality-delete files of a
  *    merge-on-read table (Iceberg v2's delete files): key-tuple
  *    tombstones → the version that wrote each, killing matching rows
  *    from OLDER sequences until a later upsert resurrects the key.
  *    Carried forward commit to commit (like sinkBatches) so the latest
  *    commit always knows the active tombstone set; compaction
  *    materializes them away and clears the map. Distinct from
  *    `deleteFiles`, which is a change-tracked repair's one-shot
  *    changelog payload, never carried.
  *  - `partSpecDdl` — the PARTITION spec in effect as of this commit
  *    (serialized transform list, see [[PartitionTransform.specDdl]]) —
  *    carried like schemaDdl; None on never-evolved tables (declared
  *    spec applies).
  *  - `fileSpecs` — file → the spec it was WRITTEN under. Recorded (for
  *    every live file) only once the table has ever evolved its
  *    partitioning; an empty map means every file is on the declared
  *    spec. Persisted in the manifest entries (`s`), so a snapshot
  *    knows each file's layout without any other commit; a
  *    mis-grouped file would read the wrong directory layout.
  *  - `renames` — column-RENAME log as of this commit, carried forward
  *    like schemaDdl: each entry `"<version>|<old>|<new>"` records that
  *    the evolve commit at `version` renamed `old` to `new`. Files
  *    written BEFORE that version store the old name; the read path
  *    derives each file's stored names from its sequence number (the
  *    version that added it, [[ManifestEntry]] `v`) against this log —
  *    the engine's stand-in for Iceberg's field ids,
  *    which is what makes RENAME a metadata-only commit on a
  *    name-resolved parquet format (zero footers rewritten).
  *  - `posDeleteFiles` — PENDING position-delete files (Iceberg v2's
  *    `(file, pos)` delete kind — the shape `DELETE FROM ... WHERE
  *    <non-key predicate>` writes): parquet files of (data-file relative
  *    path, row index) tombstones → the version that wrote each,
  *    anti-joined away by every logical read until
  *    [[GraftTable.compact]] materializes them. Carried forward like
  *    morDeleteFiles; never part of the live file set. Only
  *    non-merge-on-read tables carry these (a MOR predicate delete
  *    delegates to equality deletes — see deleteWhere).
  *  - `manifests` — names of the manifest chunks whose entries form
  *    this snapshot's live file set.
  */
final case class CommitMeta(
    version: Int,
    tsMs: Long,
    op: String,
    rowCount: Long,
    files: Seq[String],
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    sinkBatches: Map[String, Long] = Map.empty,
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    fileRows: Map[String, Long] = Map.empty,
    changeFiles: Seq[String] = Nil,
    deleteFiles: Seq[String] = Nil,
    schemaDdl: Option[String] = None,
    @JsonDeserialize(contentAs = classOf[java.lang.Integer])
    morDeleteFiles: Map[String, Int] = Map.empty,
    partSpecDdl: Option[String] = None,
    fileSpecs: Map[String, String] = Map.empty,
    renames: Seq[String] = Nil,
    @JsonDeserialize(contentAs = classOf[java.lang.Integer])
    posDeleteFiles: Map[String, Int] = Map.empty,
    manifests: Seq[String] = Nil) {
  /** Alias of `sinkBatches`, the name the pipeline benchmark
    * (`pipebench/`) reads it by.
    */
  def sinkBatchesOrEmpty: Map[String, Long] = sinkBatches
}

object CommitMeta {
  /** The snapshot of a table with no commits: version 0, no files,
    * the declared schema and spec. Never persisted.
    */
  val Empty: CommitMeta = CommitMeta(0, 0L, "empty", 0L, Nil)
}

/** A concurrent commit landed that this operation cannot be replayed
  * over — the loud half of the optimistic-concurrency protocol (the
  * quiet half is the bounded retry for commutative shapes). The
  * operation made NO commit; the table is exactly the other writer's
  * state, nothing is lost. Recovery is operation-level: re-run the
  * operation against the current snapshot (its inputs must be re-read —
  * that is precisely what the conflict is telling you).
  */
final class CommitConflictException(msg: String) extends RuntimeException(msg)

/** What a commit MEANS as a delta against the snapshot its operation
  * read (its BASE) — the information the optimistic-commit retry loop
  * needs to decide, per Iceberg's conflict-validation scheme, whether
  * the commit can be replayed over a head another writer advanced:
  *
  *  - [[AddFiles]] (append, MOR upsert): pure addition — commutes with
  *    everything that leaves the write-time column-name epoch and
  *    partition spec alone; retried as `head.files ++ added`.
  *  - [[RewriteFiles]] (compact, z-order): content-preserving rewrite
  *    of `removed` into `added` — retriable iff every input is still
  *    live in the head and no tombstones landed in between (the
  *    rewrite materializes base-time tombstones, so a new one would be
  *    silently cleared); merge-on-read tables additionally require NO
  *    interleaved data commit (a rewrite re-sequences its output above
  *    an interleaved upsert, manufacturing a bogus latest-wins order).
  *  - [[ReplaceContent]] (COW upsert, overwrite, replaceWhere/Keys):
  *    the commit's rows were DERIVED from the base's logical content —
  *    replayable only over interleaved commits that preserved that
  *    content (layout-only: compact/zorder) with every carried
  *    `untouched` file still live; anything else aborts loudly
  *    (snapshot-isolation conflict, Iceberg's ValidationException).
  *  - [[TombstoneEq]] (MOR equality delete): key-granular tombstone,
  *    re-versioned per attempt — latest-delete-wins over interleaved
  *    upserts of the same keys, exactly Iceberg v2 sequence semantics.
  *  - [[TombstonePos]] (position delete): pins (file, row) identities,
  *    so any interleaved REMOVAL of a base file aborts; additions are
  *    fine.
  *  - [[MetadataOnly]] (schema/spec evolution) and [[Restore]]
  *    (rollback): computed against one exact head; any interleaved
  *    commit aborts (the operation is cheap to re-run). MetadataOnly
  *    carries a new partition spec where it sets one; Restore carries
  *    the snapshot it restores, whose files keep their manifest
  *    entries, sequence numbers included.
  */
private[tables] sealed trait CommitIntent
private[tables] final case class AddFiles(added: Seq[String]) extends CommitIntent
private[tables] final case class RewriteFiles(removed: Set[String],
    added: Seq[String]) extends CommitIntent
private[tables] final case class ReplaceContent(untouched: Seq[String],
    added: Seq[String]) extends CommitIntent
private[tables] case object TombstoneEq extends CommitIntent
private[tables] case object TombstonePos extends CommitIntent
private[tables] final case class MetadataOnly(
    partSpecDdl: Option[String] = None) extends CommitIntent
private[tables] final case class Restore(target: CommitMeta) extends CommitIntent

/** Conservative file-pruning hint for replace commits: every row the
  * delete-condition can match is guaranteed to lie within
  * `[loMicros, hiMicros]` of `column` (µs since epoch, as parquet stores
  * TIMESTAMP(MICROS)). Live files whose footer min/max don't intersect
  * the range are carried into the new commit by name — zero read, zero
  * rewrite — which is what turns a repair commit from O(table) into
  * O(affected window), the same skipping Iceberg does from manifest
  * column bounds.
  */
final case class RangePrune(column: String, loMicros: Long, hiMicros: Long)

/** A parquet-backed table with an explicit snapshot log — the engine's
  * stand-in for the reference's Iceberg v2 tables (no Iceberg/Delta jars
  * in this environment). Supported operations mirror the reference:
  *
  *  - `append`     — S4 partitioned append sink;
  *  - `upsert`     — S5 keyed upsert (copy-on-write here; the 100 TB
  *                   path is merge-on-read equality deletes / MERGE INTO,
  *                   see hourly_impressions_by_geo.yml:17-21);
  *  - `overwrite`  — M1 CTAS materialization;
  *  - `compact`    — M7 small-file compaction (maintenance.sh:66-67);
  *  - `expireSnapshots` / `removeOrphans` — M8 (maintenance.sh:72-79);
  *  - `snapshots`  — S10 metadata table (query-examples.sh:91-95).
  *
  * MULTI-WRITER under optimistic concurrency (the reference's
  * deployment is concurrent as a matter of routine: three Flink jobs
  * commit every 60 s — insert_jobs.sql:6-9 — while maintenance.sh:66-79
  * compacts/expires the SAME tables on a cron; Iceberg absorbs that
  * with optimistic commits, and so does this log). Every commit is
  * published with an atomic version CAS ([[GraftTable.publish]]:
  * link(2) onto the versioned path, which fails rather than replaces);
  * a writer that loses the race re-validates its intent against the
  * winner ([[CommitIntent]]) and either replays (commutative shapes:
  * appends, content-preserving rewrites over still-live inputs) or
  * aborts loudly ([[CommitConflictException]] — snapshot-isolation
  * conflicts: two writers deriving from the same content). Readers
  * always resolve the latest complete commit.
  */
final class GraftTable(val spark: SparkSession, val defn: TableDef, root: String,
    branch: Option[String] = None) {

  private val tableDir = s"$root/${defn.name}"
  private val dataDir = s"$tableDir/data"
  // a BRANCH view keeps its own commit log beside main's, over the SAME
  // data dir — so every write op (append/upsert/replace/compact) works
  // on a branch unchanged, writing files no main snapshot references
  // until a fast-forward publishes them (Iceberg branches share the
  // data layout the same way)
  private val commitsDir = branch match {
    case Some(b) => s"$tableDir/_commits/branch-$b"
    case None => s"$tableDir/_commits"
  }
  private val refsDir = s"$tableDir/_refs"
  Files.createDirectories(Paths.get(dataDir))
  Files.createDirectories(Paths.get(commitsDir))

  private val mapper = GraftTable.mapper

  // manifest chunks are shared by main and every branch (branch commits
  // reference the same chunk files; fast-forward moves only jsons)
  private val manifestStore = new ManifestStore(defn.name, s"$tableDir/_manifests")

  /** Directory the data files live under — the mount point for a file
    * STREAM tailing this table (Spark's file source lists new files per
    * micro-batch, so a downstream job consumes appends continuously; the
    * reference's jobs chain through Iceberg tables the same way). A
    * tailing reader sees files slightly before the commit json lands —
    * acceptable for append-only flows, which is the only shape the
    * streaming sinks write.
    */
  def dataPath: String = dataDir

  /** Partition spec of a snapshot: the commit's carried partSpecDdl,
    * else the declared TableDef spec. New writes always use the head's
    * spec; existing files keep the layout they were written under
    * ([[CommitMeta.fileSpecs]]).
    */
  private def specOf(snap: CommitMeta): Seq[PartitionTransform] =
    snap.partSpecDdl.map(PartitionTransform.parseSpec).getOrElse(defn.partitions)

  /** Partition spec as of snapshot `version` (latest when None). */
  def partitionsAt(version: Option[Int]): Seq[PartitionTransform] = specOf(snapshot(version))

  /** The current partition spec (declared + applied evolutions). */
  def currentPartitions: Seq[PartitionTransform] = specOf(head)

  /** Physical schema = logical schema + derived partition columns
    * (the snapshot's spec).
    */
  private def partCols(snap: CommitMeta): Seq[String] = specOf(snap).map(_.name)

  /** The spec each of a snapshot's files was written under. */
  private def specsByFile(snap: CommitMeta): Map[String, Seq[PartitionTransform]] = {
    val m = snap.fileSpecs
    if (m.isEmpty) Map.empty.withDefaultValue(defn.partitions)
    else m.view.mapValues(PartitionTransform.parseSpec).toMap
      .withDefaultValue(defn.partitions)
  }

  /** Parsed column-provenance log of a snapshot, ascending by version.
    * Entry kinds (the `|`-separated triple):
    *  - rename `v|old|new` (both non-empty) — resolution walks it back;
    *  - add    `v||name`   (old empty) — recorded ONLY for a
    *    resurrection-prone add (the name once existed as a column or a
    *    rename side): files written before `v` must read the column as
    *    ABSENT even when their footers carry an identically-named dead
    *    column (Iceberg's field-ids prevent the same resurrection);
    *  - drop   `v|name|`   (new empty) — never matched by resolution;
    *    the permanent record that `name` once existed, surviving
    *    snapshot expiry so a later re-add is detected as prone.
    */
  private def renameLogOf(snap: CommitMeta): Seq[(Int, String, String)] =
    snap.renames.map { s =>
      val parts = s.split("\\|", -1)
      require(parts.length == 3, s"${defn.name}: bad rename log entry '$s'")
      (parts(0).toInt, parts(1), parts(2))
    }

  /** The name a file written at `fileVersion` STORES for the column
    * currently (per `log`) called `cur` — or None when the column is
    * ABSENT for that file (it predates a resurrection-prone add).
    * Renames that landed after the file was written are walked back
    * newest-first, so chained renames (a→b at v5, b→c at v9) and
    * freed-then-reused names resolve correctly. Identity when the log
    * is empty — the common case pays nothing.
    */
  private def storedNameOf(cur: String, fileVersion: Int,
      log: Seq[(Int, String, String)]): Option[String] = {
    var name = cur
    log.reverseIterator.foreach { case (rv, o, n) =>
      if (rv > fileVersion && n.nonEmpty && name == n) name = o
    }
    if (name.isEmpty) None else Some(name)
  }

  /** current-name → stored-name map for a whole logical schema (None =
    * absent for that epoch); files that predate every entry (or a
    * log-free table) get the identity map.
    */
  private def storedNamesAt(logical: StructType, fileVersion: Int,
      log: Seq[(Int, String, String)]): Map[String, Option[String]] =
    logical.fieldNames.map(c => c -> storedNameOf(c, fileVersion, log)).toMap

  /** Every column name (lower-cased) a live file of `snap` may store:
    * either side of its log entries, the declared schema and its own.
    * Adding one of these could RESURRECT dead data — a live file may
    * physically store an identically-named dead column — so such adds
    * get a log entry ([[addColumns]]); ordinary adds (the overwhelmingly
    * common case) record nothing. The drift check ([[TableCatalog]])
    * accepts these names in live files. One snapshot is enough: a drop
    * leaves a permanent `v|name|` entry that survives expiry, a rename
    * logs both names, and a rollback restores its target's log together
    * with its target's files — so a name no entry, declaration or
    * current schema carries is stored by no live file.
    */
  private[tables] def everNamed(snap: CommitMeta): Set[String] =
    (renameLogOf(snap).flatMap(e => Seq(e._2, e._3)) ++ defn.schema.fieldNames ++
      schemaOf(snap).fieldNames).filter(_.nonEmpty).map(_.toLowerCase).toSet

  // ---- commit log ----

  private def commitPath(v: Int) = Paths.get(s"$commitsDir/commit-$v.json")

  /** The head this handle last read or published, keyed by (version,
    * content hash): a ONE-snapshot memo like [[entriesMemo]], so a
    * handle holds one resolved snapshot however many commits it reads;
    * older versions load uncached. A content hash, not (size, mtime): a
    * commit json purged and rewritten with the same length inside one
    * mtime tick (the purge-and-rebuild path, m9) would otherwise serve a
    * stale snapshot.
    */
  @volatile private var headMemo: (Int, Long, CommitMeta) = (0, 0L, CommitMeta.Empty)

  /** Manifest chunk sizing: entries per chunk (a full chunk json is a
    * few hundred KB — one metadata IO, Iceberg-manifest-sized) and the
    * reference-count ceiling that triggers the fold-undersized merge.
    */
  private val ChunkTargetEntries = 1024
  private val MaxChunkRefs = 24

  /** Split the predecessor's chunk refs into (carried by reference,
    * folded into this commit's own write). Folding triggers when the
    * ref count would exceed [[MaxChunkRefs]] and merges ONLY
    * UNDERSIZED chunks (≤ half the target): merging those actually
    * reduces the count (amortized-logarithmic rewrites, Iceberg's
    * `rewrite_manifests` folded into the commit), while a SATURATED
    * chunk can never fold into fewer — rewriting it would be pure
    * write amplification per commit, which is exactly what the
    * pre-r16 fold-smallest rule degenerated into past ~24k files
    * (12 full chunks re-serialized per append, measured at 100× in
    * SCALING.md). Past saturation the ref count grows at its true
    * floor, ceil(live / ChunkTargetEntries) — the commit json is then
    * O(live/1024), the same O(#manifests) a real Iceberg manifest
    * list carries.
    */
  private def foldChunks(prevChunks: Seq[String]): (Seq[String], Seq[String]) = {
    if (prevChunks.size < MaxChunkRefs) return (prevChunks, Nil)
    val undersized = prevChunks.filter(n =>
      manifestStore.read(n).size <= ChunkTargetEntries / 2)
    if (undersized.size < 2) (prevChunks, Nil)
    else (prevChunks.filterNot(undersized.toSet), undersized)
  }

  private def contentKey(bytes: Array[Byte]): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  private val CommitName = "commit-(\\d+)\\.json".r

  /** The versions in the log, from the names in `_commits/` alone. */
  private def logVersions: Seq[Int] =
    Option(new File(commitsDir).list()).getOrElse(Array.empty[String]).toSeq
      .collect { case CommitName(v) => v.toInt }

  /** Commit `version`, from [[headMemo]] when it holds that content. */
  private def load(version: Int, remember: Boolean): CommitMeta = {
    val bytes = Files.readAllBytes(commitPath(version))
    val key = contentKey(bytes)
    val memo = headMemo
    if (memo._1 == version && memo._2 == key) memo._3
    else {
      val c = resolveManifests(parseCommit(s"commit-$version.json", bytes))
      if (remember) memoize(version, key, c)
      c
    }
  }

  /** Make `c` the [[headMemo]] and bound the chunk-parse cache to its
    * chunks — on a handle that only reads as on one that writes, so a
    * long-lived reader does not keep every chunk it ever resolved (see
    * ManifestStore.prune).
    */
  private def memoize(version: Int, key: Long, c: CommitMeta): Unit = {
    headMemo = (version, key, c)
    manifestStore.prune(c.manifests.toSet)
  }

  /** Chunks held by this handle's parse cache (test/diagnostic). */
  private[graft] def cachedChunkCount: Int = manifestStore.cachedChunkCount

  /** Every snapshot, oldest first; parses every commit json. */
  def commits: Seq[CommitMeta] = logVersions.sorted.map(load(_, remember = false))

  /** The latest snapshot, [[CommitMeta.Empty]] for a table with no
    * commits. An operation reads it ONCE and derives its version,
    * schema, spec, live files and tombstones from that one value (its
    * BASE, as an Iceberg operation works against
    * `TableOperations.current()`); a lost commit race reads only the
    * commits past its base ([[writeCommit]]). Lists the names in
    * `_commits/` and parses only the highest version's json: a
    * snapshot is one commit json plus its manifest chunks.
    */
  def head: CommitMeta = logVersions.maxOption.fold(CommitMeta.Empty)(load(_, remember = true))

  /** Snapshot `version`, the head when None; reads that one commit
    * json. A version not in the log throws.
    */
  def snapshot(version: Option[Int]): CommitMeta = version match {
    case None => head
    case Some(v) if Files.exists(commitPath(v)) => load(v, remember = false)
    case Some(v) => throw new IllegalArgumentException(s"${defn.name}: no snapshot v$v")
  }

  /** Snapshots `from+1 … to`, oldest first, one commit json each: the
    * one reader of a version range (changelog reads, a lost race's
    * re-validation). Refuses before reading any json: a bad range, or
    * `to` past the head, with IllegalArgumentException; a version
    * absent inside the range (an expired commit), as a changelog GAP,
    * with IllegalStateException.
    */
  private[graft] def commitsIn(from: Int, to: Int): Either[RuntimeException, Seq[CommitMeta]] = {
    val range = (from + 1) to to
    lazy val missing = range.filterNot(v => Files.exists(commitPath(v)))
    if (from < 0 || from > to)
      Left(new IllegalArgumentException(s"${defn.name}: bad changelog range ($from, $to]"))
    else if (to > logVersions.maxOption.getOrElse(0))
      Left(new IllegalArgumentException(s"${defn.name}: no snapshot v$to"))
    else if (missing.nonEmpty)
      Left(new IllegalStateException(s"${defn.name}: commit(s) v${missing.mkString(", v")} " +
        s"expired — changelog gap in ($from, $to]; re-sync from readLogical"))
    else Right(range.map(v => snapshot(Some(v))))
  }

  /** Parse one persisted commit json. The persisted form carries the
    * live file list only through `manifests`, so a json with the list
    * inline is no commit this table format writes: it throws, like one
    * that lacks a field ([[GraftTable.readJson]]).
    */
  private def parseCommit(name: String, bytes: Array[Byte]): CommitMeta = {
    val c = GraftTable.readJson(defn.name, s"_commits/$name", bytes, classOf[CommitMeta])
    if (c.files.nonEmpty || c.fileRows.nonEmpty || c.fileSpecs.nonEmpty)
      throw new IllegalStateException(s"${defn.name}: _commits/$name lists its " +
        "files inline — not a commit of this table format (files live in manifest chunks)")
    c
  }

  /** Rebuild the in-memory full-file-list view from a persisted
    * manifest-format commit (files/fileRows/fileSpecs were stripped at
    * write time — see [[writeCommit]]). The head's view is kept in
    * [[headMemo]]; the chunk parses themselves cache in the
    * [[ManifestStore]].
    */
  private def resolveManifests(c: CommitMeta): CommitMeta = {
    val entries = c.manifests.flatMap(manifestStore.read)
    c.copy(files = entries.map(_.p),
      fileRows = entries.map(e => e.p -> e.r).toMap,
      fileSpecs = entries.flatMap(e => e.s.map(e.p -> _)).toMap)
  }

  /** file → its manifest entry in `snap`: rows, write-time column
    * bounds (the metadata-log replacement for per-file footer probes
    * on the range-pruning and watermark paths) and sequence number.
    */
  // single-entry memo, NOT a map: nearly every caller queries the
  // latest snapshot, and a per-snapshot map would retain one O(live
  // files) index per commit for the handle's lifetime (a poll/cron
  // loop commits constantly). Keyed by the chunk-name list itself —
  // UUID names are never reused, purge-rebuild included.
  @volatile private var entriesMemo: (Seq[String], Map[String, ManifestEntry]) = (null, null)

  private def entriesOf(snap: CommitMeta): Map[String, ManifestEntry] = {
    val memo = entriesMemo
    if (memo._1 == snap.manifests) memo._2
    else {
      // rebuilding an O(live files) map per pruned read would turn
      // every range query into O(table) driver CPU
      val v = snap.manifests.flatMap(manifestStore.read).map(e => e.p -> e).toMap
      entriesMemo = (snap.manifests, v)
      v
    }
  }

  /** file → its sequence number in `snap` (the version that first
    * added it): the order merge-on-read latest-wins resolves by, and
    * the epoch a file's stored column names resolve at. A file with no
    * entry (a change-tracked replace's delete files) sorts after every
    * commit.
    */
  private def sequenceOf(snap: CommitMeta): String => Int = {
    val entries = entriesOf(snap)
    f => entries.get(f).fold(Int.MaxValue)(_.v)
  }

  def currentVersion: Int = head.version

  /** Atomically claim version `meta.version`: hard-link a fully written
    * tmp json (the STRIPPED form — the chunk references are the durable
    * file list; the full in-memory view rebuilds via resolveManifests)
    * onto the versioned commit path — link(2) fails when the target
    * exists, which IS the compare-and-swap on the table head (atomic
    * across threads AND processes on any POSIX filesystem; an
    * object-store deployment swaps this one primitive for a conditional
    * PUT or a catalog pointer CAS — exactly the pluggable commit seam
    * Iceberg's TableOperations defines). False = another writer claimed
    * the version first; the caller re-reads the head, re-validates, and
    * retries.
    */
  private def publish(meta: CommitMeta): Boolean = {
    val persisted = meta.copy(files = Nil, fileRows = Map.empty, fileSpecs = Map.empty)
    val bytes = mapper.writeValueAsString(persisted)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val tmp = Paths.get(s"$commitsDir/.tmp-${java.util.UUID.randomUUID()}.json")
    Files.write(tmp, bytes)
    try {
      Files.createLink(commitPath(meta.version), tmp)
      // the ASSEMBLED in-memory view becomes the head memo: this
      // handle's next head() serves its own commit without re-resolving
      // manifest chunks — the carry that keeps a long-lived writer's
      // assembly O(delta) end to end
      memoize(meta.version, contentKey(bytes), meta)
      true
    }
    catch { case _: java.nio.file.FileAlreadyExistsException => false }
    finally Files.delete(tmp)
  }

  /** Decide whether `intent`, computed against snapshot `base`, may be
    * replayed over `head` (no-op when nothing interleaved), reading no
    * commit outside `(base, head]`. Throws [[CommitConflictException]]
    * when replay would be unsound; see [[CommitIntent]] for the
    * per-shape rules. This is the conflict-validation half of optimistic
    * concurrency (Iceberg's validateNoNewDeletesForDataFiles /
    * validateAddedFilesMatchFilter family, reduced to this format's
    * five commit shapes).
    */
  private def validateIntent(op: String, intent: CommitIntent, base: CommitMeta,
      head: CommitMeta): Unit = {
    if (head.version == base.version) return
    def conflict(why: String): Nothing = throw new CommitConflictException(
      s"${defn.name}: $op derived from snapshot v${base.version} but the head " +
        s"is v${head.version} — $why; re-run the operation against the current snapshot")
    if (head.version < base.version) conflict("the head moved backwards (rolled-back log?)")
    if (base.version > 0 && !Files.exists(commitPath(base.version)))
      conflict("the base snapshot expired mid-operation")
    val headFiles = head.files.toSet
    // files this operation wrote are stamped under the BASE's
    // column-name epoch and partition spec; an interleaved rename /
    // resurrection-prone re-add / spec evolution would mis-resolve
    // them on read — abort rather than mis-read (the op re-runs
    // cheaply against the new metadata)
    def writeEpochGuards(): Unit = {
      if (head.renames != base.renames)
        conflict("a column rename/re-add landed concurrently")
      if (head.partSpecDdl != base.partSpecDdl)
        conflict("a partition-spec evolution landed concurrently")
    }
    intent match {
      case AddFiles(_) => writeEpochGuards() // pure addition commutes
      case RewriteFiles(removed, _) =>
        writeEpochGuards()
        if (!removed.subsetOf(headFiles))
          conflict("a concurrent commit removed files this rewrite read")
        if (head.morDeleteFiles != base.morDeleteFiles ||
            head.posDeleteFiles != base.posDeleteFiles)
          conflict("tombstones landed concurrently — this rewrite read the " +
            "base state and would silently clear them")
        if (defn.mergeOnRead && headFiles != base.files.toSet)
          conflict("a data commit interleaved with a merge-on-read rewrite — " +
            "the rewrite's output would re-sequence above it")
      case ReplaceContent(untouched, _) =>
        writeEpochGuards()
        commitsIn(base.version, head.version).fold(e => conflict(e.getMessage), identity)
          .find(c => c.op != "compact" && c.op != "zorder")
          .foreach(c => conflict(s"concurrent '${c.op}' commit v${c.version} changed the " +
            "logical content this operation's rows were derived from"))
        if (!untouched.forall(headFiles))
          conflict("a concurrent rewrite removed files this operation " +
            "carried over by name")
      case TombstoneEq => () // key-granular, re-versioned per attempt:
        // latest-delete-wins over interleaved upserts of the same keys,
        // Iceberg v2 sequence semantics
      case TombstonePos =>
        if (!base.files.toSet.subsetOf(headFiles))
          conflict("a concurrent commit removed files these position " +
            "deletes reference by (file, pos)")
      case _: MetadataOnly | _: Restore =>
        conflict("metadata operations replay against one exact snapshot")
    }
  }

  /** The live file set `intent` produces over `head` — evaluated per
    * retry attempt, which is what makes commutative shapes replayable.
    */
  private def filesUnder(intent: CommitIntent, head: CommitMeta): Seq[String] =
    intent match {
      case AddFiles(a) => head.files ++ a
      case RewriteFiles(rm, a) => head.files.filterNot(rm) ++ a
      case ReplaceContent(u, a) => u ++ a
      case TombstoneEq | TombstonePos => head.files
      case _: MetadataOnly => head.files
      case Restore(t) => t.files
    }

  /** Commit `intent`'s file delta over `base`, the snapshot the
    * operation read, under OPTIMISTIC CONCURRENCY: the new snapshot is
    * `base` plus the operation's edits, published with an atomic
    * version CAS ([[publish]]). The first attempt assembles against
    * `base` and lets the CAS tell whether another writer got there
    * first; only a lost race re-reads the log, re-validates the intent
    * against the winner ([[validateIntent]]) and re-assembles over it —
    * bounded retries, then a loud error. A non-replayable interleaving
    * throws [[CommitConflictException]] with nothing committed. This is
    * what lets the reference's deployment shape — streaming writers
    * committing every 60 s WHILE a maintenance cron compacts/expires
    * the same tables — run without a lost commit, the way Iceberg's
    * optimistic commits absorb it.
    *
    * Each attempt's draft is its predecessor with the new version,
    * timestamp, op, file list, row counts, specs and manifests; the sink
    * marks carried plus this thread's pending mark; and no change or
    * delete files. Schema, rename log and tombstone maps carry over
    * as they are. `edit` then applies the operation's own metadata
    * changes to the draft — it sees the attempt's version as
    * `draft.version`, so a retried tombstone re-sequences above the
    * commits it lost the race to.
    */
  private def writeCommit(op: String, intent: CommitIntent, base: CommitMeta,
      written: Seq[WrittenFile] = Nil,
      edit: CommitMeta => CommitMeta = identity): CommitMeta = {
    @scala.annotation.tailrec
    def attempt(prev: CommitMeta, lost: Int): CommitMeta = {
      val meta = edit(assembleCommit(intent, prev, written).copy(
        version = prev.version + 1, tsMs = System.currentTimeMillis(), op = op,
        sinkBatches = prev.sinkBatches ++ pendingSinkMark.get(),
        changeFiles = Nil, deleteFiles = Nil))
      if (publish(meta)) meta
      else {
        GraftTable.commitRetryCount.incrementAndGet()
        if (lost + 1 == GraftTable.MaxCommitRetries) throw new CommitConflictException(
          s"${defn.name}: $op lost the commit race ${GraftTable.MaxCommitRetries} " +
            "times — writer contention too high; re-run the operation")
        // back off briefly (jittered so N writers don't re-collide in
        // lockstep), re-read the winner, try again
        Thread.sleep(1L + java.util.concurrent.ThreadLocalRandom.current()
          .nextLong(2L << math.min(lost + 1, 6)))
        val winner = head
        validateIntent(op, intent, base, winner)
        attempt(winner, lost + 1)
      }
    }
    attempt(base, 0)
  }

  /** The file side of one commit attempt against `prev`: `prev` with
    * the live file list, row counts, per-file specs, carried spec and
    * manifest chunks that `intent` produces over it.
    *
    * Row counts AND column bounds come from `prev`'s manifest entries
    * where a file is carried over; files NOT in `prev` take theirs from
    * `written` — the table writer's report for the files this operation
    * wrote, stamped with this attempt's version as their sequence
    * number (a rollback restores its target's entries instead) — so
    * commit cost is O(new files) regardless of how many live files are
    * carried, and no data file is opened. The persisted json stores
    * manifest chunk NAMES, never the file list: an append-shaped commit
    * writes one new chunk and carries prior chunks by reference; a
    * commit that removes files (or restamps specs) rewrites only the
    * touched chunks. Chunk-reference growth is bounded by merging the
    * undersized chunks into the commit's own write once the ref count
    * exceeds [[MaxChunkRefs]] — logarithmic amortized rewrite, Iceberg's
    * `rewrite_manifests` folded into the commit.
    *
    * COST SHAPE: the steady-state commit kinds — pure additions
    * (append, MOR upsert) and tombstone commits (equality/position
    * deletes), i.e. everything the reference's 60-second streaming
    * cadence issues — take the O(DELTA) fast path: the file list, row
    * map, spec map, and row-count total derive INCREMENTALLY from the
    * predecessor's in-memory view (immutable-map structural sharing),
    * every prior manifest chunk carries by reference without being
    * scanned, and the only per-file work is one manifest entry per
    * added file. Driver CPU per commit is then independent of the live
    * file count — at millions of files an append costs what it costs
    * at a thousand (Iceberg's fast-append). Rewrites (compact, zorder,
    * replace, rollback) keep the full O(live) assembly: their intent
    * already touches the live set wholesale, and they run on the
    * maintenance cadence, not the ingest cadence.
    */
  private def assembleCommit(intent: CommitIntent, prev: CommitMeta,
      written: Seq[WrittenFile]): CommitMeta = {
    val writeSpecDdl = prev.partSpecDdl.getOrElse(PartitionTransform.specDdl(defn.partitions))
    // the entry of every file this commit adds: rows + bounds as its
    // writer reported them, and this attempt's version as its sequence
    // number (a lost race re-stamps it, like a tombstone)
    val addedEntries = written.map(w =>
      w.path -> ManifestEntry(w.path, w.rows, None, w.bounds, prev.version + 1)).toMap
    // ---- O(delta) fast path (see the method doc) ----
    val fastAdds: Option[Seq[String]] = intent match {
      case AddFiles(a) => Some(a)
      case TombstoneEq | TombstonePos => Some(Nil)
      case _ => None
    }
    fastAdds match {
      case Some(added) =>
        val addedRows: Map[String, Long] = added.map(f => f -> addedEntries(f).r).toMap
        val fileSpecs =
          if (prev.partSpecDdl.isEmpty) Map.empty[String, String]
          else prev.fileSpecs ++ added.map(_ -> writeSpecDdl)
        // every carried file keeps identical rows/spec, so EVERY prior
        // chunk carries by reference — no chunk is read, let alone
        // scanned. Only the fold-undersized merge (amortized logarithmic)
        // ever opens carried chunks here.
        val (carried, merged) = foldChunks(prev.manifests)
        val pool = merged.flatMap(manifestStore.read)
        val fresh = added.map(f => addedEntries(f).copy(s = fileSpecs.get(f)))
        val newChunks = (pool ++ fresh).grouped(ChunkTargetEntries)
          .map(manifestStore.write).toSeq
        prev.copy(rowCount = prev.rowCount + addedRows.values.sum,
          files = prev.files ++ added, fileRows = prev.fileRows ++ addedRows,
          fileSpecs = fileSpecs, manifests = carried ++ newChunks)
      case None => assembleRewrite(intent, prev, writeSpecDdl, addedEntries)
    }
  }

  /** [[assembleCommit]]'s full O(live) assembly: rewrites, replaces,
    * metadata ops.
    */
  private def assembleRewrite(intent: CommitIntent, prev: CommitMeta,
      writeSpecDdl: String, addedEntries: Map[String, ManifestEntry]): CommitMeta = {
    val (newSpecDdl, specsOverride, newEntries) = intent match {
      case MetadataOnly(spec) => (spec, None, addedEntries)
      // a rollback's files come back with the entries of the snapshot it
      // restores: rows, bounds and sequence numbers as first written
      case Restore(t) =>
        (Some(PartitionTransform.specDdl(specOf(t))), Some(t.fileSpecs), entriesOf(t))
      case _ => (None, None, addedEntries)
    }
    val files = filesUnder(intent, prev)
    val fileRows = files.map(f => f -> prev.fileRows.getOrElse(f, newEntries(f).r)).toMap
    // partition-spec bookkeeping: the carried spec, plus (once the table
    // has ever evolved) per-file write-spec provenance. New files were
    // written under the spec in effect BEFORE this commit (an evolve
    // commit adds no files, so the distinction only matters there).
    val carriedSpecDdl = newSpecDdl.orElse(prev.partSpecDdl)
    val fileSpecs: Map[String, String] =
      if (carriedSpecDdl.isEmpty) Map.empty // never evolved: declared spec everywhere
      else specsOverride match {
        // rollback restores the TARGET snapshot's provenance — a file the
        // head had dropped isn't in the head's map, and stamping it with
        // the head's spec would mis-read its layout. A file absent from
        // the target's own map can only mean the target predates every
        // evolution (provenance is recorded for ALL live files once any
        // evolution lands), so the fallback is the TARGET's write spec
        // (rollback always passes it), never the head's writeSpecDdl:
        // after evolve → compact, the head's provenance no longer names
        // the restored files and the head-derived spec would stamp
        // day-layout files as hour-layout (null p_* reads, mis-grouped
        // compaction).
        case Some(m) =>
          val targetSpec = newSpecDdl.getOrElse(writeSpecDdl)
          files.map(f => f -> m.getOrElse(f, targetSpec)).toMap
        case None => files.map(f => f -> prev.fileSpecs.getOrElse(f, writeSpecDdl)).toMap
      }
    // ---- manifest chunking: persisted metadata is O(this delta) ----
    val fileSet = files.toSet
    // a prior chunk carries BY REFERENCE iff every entry survives with
    // identical rows/spec — otherwise its survivors spill into this
    // commit's own chunk write with their (immutable) bounds kept.
    // Spec restamps (first partition evolution, rollback overrides)
    // and removals are what break the carry.
    val (carriedOk, toSpill) = prev.manifests
      .partition(n => manifestStore.read(n).forall(e =>
        fileSet.contains(e.p) && e.r == fileRows(e.p) &&
          e.s == fileSpecs.get(e.p)))
    // bound ref growth: once the json would reference too many chunks,
    // fold the undersized ones into this commit's write (amortized: a
    // chunk is re-merged O(log files) times over the table's life;
    // saturated chunks never rewrite — see foldChunks)
    val (carried, merged) = foldChunks(carriedOk)
    val pool = (toSpill ++ merged).flatMap(manifestStore.read)
      .filter(e => fileSet.contains(e.p))
      .map(e => e.copy(r = fileRows(e.p), s = fileSpecs.get(e.p)))
    val covered = carried.flatMap(n => manifestStore.read(n).map(_.p)).toSet ++
      pool.map(_.p)
    // files never chunked yet are this commit's additions (or a
    // rollback's restored files)
    val fresh = files.filterNot(covered).map(f =>
      newEntries(f).copy(r = fileRows(f), s = fileSpecs.get(f)))
    val newChunks = (pool ++ fresh).grouped(ChunkTargetEntries).map(
      manifestStore.write).toSeq
    prev.copy(rowCount = fileRows.values.sum, files = files, fileRows = fileRows,
      partSpecDdl = carriedSpecDdl, fileSpecs = fileSpecs, manifests = carried ++ newChunks)
  }

  // ---- file bookkeeping ----

  private def listDataFiles(): Set[String] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(new File(dataDir))
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .map(f => Paths.get(dataDir).relativize(f.toPath).toString).toSet
  }

  private def withPartitionCols(df: DataFrame, snap: CommitMeta): DataFrame =
    specOf(snap).foldLeft(df)((d, p) => d.withColumn(p.name, p.expr))

  /** Driver-local fast path: a commit whose rows are a tiny
    * LocalRelation (a watermark row, a bookkeeping upsert, a VALUES
    * insert) pays the full distributed-write floor — analyze/optimize,
    * a scheduled task — to move a few hundred bytes that never left the
    * driver. The table writer runs on the driver instead (the same
    * function the write tasks run, so the files are identical).
    * Gated to: no explicit partition-count request, unpartitioned
    * unsorted layout (partition/sort distribution is the distributed
    * writer's job), and an ANALYZED plan that is just projections over
    * one LocalRelation whose optimized form stays local and small. The
    * analyzed-plan probe is pattern matching only; the optimizer runs
    * solely on plans already known to be projection-over-local, so the
    * distributed path never pays an extra optimization pass.
    */
  private def localRelationRows(df: DataFrame)
      : Option[(StructType, Seq[org.apache.spark.sql.catalyst.InternalRow])] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    @scala.annotation.tailrec
    def leafLocal(p: LogicalPlan): Boolean = p match {
      case _: LocalRelation => true
      case pr: Project => leafLocal(pr.child)
      case a: SubqueryAlias => leafLocal(a.child)
      case _ => false
    }
    if (!leafLocal(df.queryExecution.analyzed)) return None
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation
          if l.data.lengthCompare(GraftTable.LocalWriteMaxRows) <= 0 =>
        Some((df.schema, l.data))
      case _ => None
    }
  }

  /** Write `df`'s rows as NEW files under the data dir, laid out by the
    * partition spec of `base` (the operation's snapshot) and the
    * declared sort order; return each file with the rows and bounds its
    * writer reported. New files never replace existing ones, so
    * concurrent snapshots stay valid.
    */
  private def writeFiles(df: DataFrame, base: CommitMeta,
      numPartitions: Option[Int] = None): Seq[WrittenFile] = {
    val parts = partCols(base)
    if (numPartitions.isEmpty && parts.isEmpty && defn.sortOrder.isEmpty) {
      localRelationRows(df) match {
        case Some((schema, rows)) =>
          return writeStaged((dir, settings) =>
            GraftParquetBridge.write(dir, schema, Nil, settings, rows.iterator))
        case None => ()
      }
    }
    val clustered = withPartitionCols(df, base)
    // hash-distribute on the partition values before a partitioned write
    // (Iceberg write.distribution-mode=hash): without it every task
    // writes a sliver into every partition dir it touches — T×P small
    // files per commit. One task per partition value is the accepted
    // tradeoff; a 100 TB deployment adds a within-partition split at the
    // advisory partition size on top. `numPartitions` (compaction's
    // binpack target) must be applied HERE — a caller-side repartition
    // would be undone by this one.
    val pcols = parts.map(org.apache.spark.sql.functions.col)
    val scols = defn.sortOrder.map(org.apache.spark.sql.functions.col)
    // declared sort order (Iceberg write.sort-order): an UNPARTITIONED
    // table range-distributes on the sort columns so each file covers a
    // disjoint slice — that is what makes footer min/max pruning
    // (readRangeLogical / RangePrune) open O(window) files on the sort
    // column for plain appends, not just after a z-order rewrite. A
    // PARTITIONED table keeps its partition-value distribution (dir
    // pruning already works) and sorts within each partition file, so
    // parquet row-group stats cluster too.
    val physical = (numPartitions, parts.nonEmpty) match {
      case (Some(n), true) => clustered.repartition(n, pcols: _*)
      case (Some(n), false) if scols.nonEmpty =>
        clustered.repartitionByRange(n, scols: _*)
      case (Some(n), false) => clustered.repartition(n)
      case (None, true) => clustered.repartition(pcols: _*)
      case (None, false) if scols.nonEmpty =>
        clustered.repartitionByRange(scols: _*)
      case (None, false) => clustered
    }
    // the partition values lead the within-task sort, so each task's
    // rows reach the writer one partition value at a time (one file
    // per value and task)
    val ordered =
      if (pcols.isEmpty && scols.isEmpty) physical
      else physical.sortWithinPartitions((pcols ++ scols): _*)
    writeRows(ordered, parts)
  }

  /** Run the table writer in Spark tasks over `df`'s rows — the logical
    * columns, then the `parts` partition columns, arranged as the files
    * should be (distribution and within-task order are the caller's).
    * Each partition value is cast to string here, in the plan, so the
    * directory names use the session time zone as Spark's writer does.
    * Shared by [[writeFiles]], the partitioned z-order rewrite (which
    * arranges its own distribution and must not have it re-shuffled)
    * and the tombstone writes (`parts` empty).
    */
  private def writeRows(df: DataFrame, parts: Seq[String]): Seq[WrittenFile] = {
    import org.apache.spark.sql.functions.col
    val data = df.columns.filterNot(parts.contains)
    val rows =
      if (parts.isEmpty) df
      else df.select(data.map(col) ++ parts.map(p => col(p).cast(StringType)): _*)
    writeStaged((dir, settings) => GraftParquetBridge.writeQuery(
      spark, rows.queryExecution.logical, dir, parts, settings))
  }

  /** Run one table write into a fresh STAGING dir, then move exactly
    * the files the writer reported into the data dir, preserving their
    * (partition) relative paths. A file stream tailing the data dir
    * (Jobs' and Sinks' chained jobs) must never list a file of a write
    * that failed, so files appear there only once every task has
    * succeeded; a failed write deletes its staging dir. Crash story:
    * files move one atomic rename at a time (same filesystem — staging
    * lives beside the data dir); a crash mid-move leaves unreferenced
    * data files and a staging remnant, both reclaimed by
    * [[removeOrphans]] — no snapshot ever references a file that is
    * not fully in place.
    */
  private def writeStaged(
      write: (String, GraftParquetBridge.WriteSettings) => Seq[WrittenFile]): Seq[WrittenFile] = {
    val staging = Paths.get(s"$tableDir/_staging/${java.util.UUID.randomUUID()}")
    val written =
      try write(staging.toString, GraftParquetBridge.settings(spark))
      catch { case t: Throwable => graft.FsUtil.deleteRecursively(staging); throw t }
    written.foreach { w =>
      val dest = Paths.get(dataDir).resolve(w.path)
      Files.createDirectories(dest.getParent)
      Files.move(staging.resolve(w.path), dest, StandardCopyOption.ATOMIC_MOVE)
    }
    graft.FsUtil.deleteRecursively(staging) // the writer's .crc files + empty dirs
    GraftTable.footerProbeCount.addAndGet(written.size)
    written.sortBy(_.path)
  }

  // ---- reads ----

  /** Logical schema of a snapshot: the commit's carried schemaDdl, else
    * the declared TableDef schema. Time-travel reads use the SNAPSHOT's
    * schema, as Iceberg does — reading v1 of a later-evolved table
    * returns v1's columns.
    */
  private def schemaOf(snap: CommitMeta): StructType =
    snap.schemaDdl.map(StructType.fromDDL).getOrElse(defn.schema)

  /** Logical schema as of snapshot `version` (latest when None). */
  def schemaAt(version: Option[Int]): StructType = schemaOf(snapshot(version))

  /** The table's current logical schema (declared + applied evolutions). */
  def currentSchema: StructType = schemaOf(head)

  /** (logical ddl, spec ddl) → derived physical schema. Deriving one
    * costs an empty-frame Catalyst analysis per partition column; the
    * spec-aware read path asks per file GROUP, so memoize.
    */
  private val physSchemaCache =
    scala.collection.concurrent.TrieMap[(String, String), StructType]()

  private def physicalSchemaOf(logical: StructType,
      spec: Seq[PartitionTransform]): StructType =
    physSchemaCache.getOrElseUpdate(
      (logical.toDDL, PartitionTransform.specDdl(spec)), {
        val withParts = spec.foldLeft(
          spark.createDataFrame(new java.util.ArrayList[Row](), logical))(
          (d, p) => d.withColumn(p.name, p.expr))
        withParts.schema
      })

  /** Read a snapshot (default: latest). Returns the physical schema —
    * logical columns plus derived `p_*` partition columns, so callers
    * can filter on partition values and get directory-level pruning.
    */
  def read(version: Option[Int] = None): DataFrame = {
    val snap = snapshot(version)
    // a raw physical read would resurface position-deleted rows
    require(snap.posDeleteFiles.isEmpty,
      s"${defn.name}: physical read with pending position deletes — " +
        "use readLogical(), or compact() to materialize them")
    // a PHYSICAL read exposes one set of p_* columns, so it can only
    // span one partition-spec generation; after an evolution, logical
    // reads work immediately and compact() migrates the layout
    val byFile = specsByFile(snap)
    val specs = snap.files.map(f => PartitionTransform.specDdl(byFile(f))).distinct
    require(specs.size <= 1,
      s"${defn.name}: physical read across ${specs.size} partition-spec " +
        "generations — use readLogical(), or compact() to migrate the layout")
    val spec = specs.headOption.map(PartitionTransform.parseSpec).getOrElse(specOf(snap))
    // the SNAPSHOT's schema: older files missing later-added columns
    // null-fill; columns dropped later still read in a pre-drop snapshot
    val logical = schemaOf(snap)
    // a physical read resolves columns by the snapshot's names directly;
    // files that predate a rename store the OLD name and would silently
    // null-fill the renamed column — refuse, like the mixed-spec case
    // (logical reads alias per epoch; compact() migrates the names)
    require(staleNamedFiles(snap).isEmpty,
      s"${defn.name}: physical read over files written before a column " +
        "rename (or a re-added column) — use readLogical(), or compact()")
    readFilesAs(snap.files, logical, spec)
  }

  /** Logical read: latest snapshot without the derived partition cols.
    * For merge-on-read tables whose live files span several upsert
    * commits, resolves latest-wins per key by commit sequence: each
    * file's manifest entry carries the version that first added it,
    * and only rows from a key's newest sequence survive (ALL of them —
    * a batch with duplicate keys keeps its duplicates, matching
    * copy-on-write). One hash-shuffle on the keys; files from a single
    * sequence (fresh table, or just compacted) skip the merge entirely.
    */
  def readLogical(version: Option[Int] = None): DataFrame = readLogicalAt(snapshot(version))

  /** [[readLogical]] of the snapshot `snap`. */
  private def readLogicalAt(snap: CommitMeta): DataFrame = {
    val logical = schemaOf(snap)
    val logicalCols = logical.fieldNames.map(org.apache.spark.sql.functions.col)
    if (!defn.mergeOnRead) {
      // pending position deletes (this SNAPSHOT's — time travel to a
      // pre-delete version sees the rows) anti-join away per (file, pos)
      snap.posDeleteFiles.keys.toSeq.sorted match {
        case Nil => readFilesLogicalSpecAware(snap.files, logical, snap)
        case ps => applyPosDeletes(
          readFilesLogicalSpecAware(snap.files, logical, snap, withPos = true), ps)
          .select(logicalCols: _*)
      }
    } else {
      val groups = snap.files.groupBy(sequenceOf(snap)).toSeq.sortBy(_._1)
      val tombs = snap.morDeleteFiles
      if (groups.size <= 1 && tombs.isEmpty)
        readFilesLogicalSpecAware(snap.files, logical, snap)
      else {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{col, lit, max}
        val dataLegs = groups.map { case (seq, files) =>
          readFilesLogicalSpecAware(files, logical, snap)
            .withColumn("__seq", lit(seq)).withColumn("__tomb", lit(0))
        }
        // equality-delete tombstones participate in the same latest-wins
        // ordering as data (Iceberg v2 sequence-number semantics): a
        // tombstone newer than a key's newest data kills the key; a
        // later upsert resurrects it. Tombstone files carry ONLY the
        // key tuple; non-key columns ride as nulls and never surface
        // (tombstone rows are filtered out after the window).
        val tombLegs = tombs.toSeq.groupBy(_._2).toSeq.map { case (v, fs) =>
          readKeyFiles(fs.map(_._1), logical).withColumn("__seq", lit(v))
            .withColumn("__tomb", lit(1))
        }
        val union = (dataLegs ++ tombLegs).reduce(_.unionByName(_))
        val newest = max(col("__seq")).over(
          Window.partitionBy(defn.keys.map(col): _*))
        union.withColumn("__newest", newest)
          .filter(col("__seq") === col("__newest") && col("__tomb") === 0)
          .select(logicalCols: _*)
      }
    }
  }

  /** Read equality-delete tombstone files (key columns only) widened to
    * the logical schema with null non-key columns.
    */
  private def readKeyFiles(files: Seq[String], logical: StructType): DataFrame = {
    val keySchema = StructType(logical.fields.filter(f => defn.keys.contains(f.name)))
    val keys = spark.read.schema(keySchema)
      .parquet(files.map(f => s"$dataDir/$f"): _*)
    logical.fields.foldLeft(keys)((d, f) =>
      if (keySchema.fieldNames.contains(f.name)) d
      else d.withColumn(f.name, org.apache.spark.sql.functions.lit(null).cast(f.dataType)))
      .select(logical.fieldNames.map(org.apache.spark.sql.functions.col): _*)
  }

  /** The schema the live files ACTUALLY carry (parquet footers, no
    * declared-schema coercion), minus derived partition columns — what
    * the drift check (S7) compares against the declaration.
    */
  def liveSchema: Option[StructType] =
    Some(head).filter(_.files.nonEmpty).map { snap =>
      // per spec generation AND rename epoch: mixed directory layouts
      // can't be listed in one partition-discovery pass, each group's
      // derived p_* cols are ITS spec's, and a pre-rename file's footer
      // stores the OLD column name — rendered back as the current name
      // so a rename alone never reads as drift
      val byFile = specsByFile(snap)
      val storedOf = storedNamesByFile(snap, schemaOf(snap), renameLogOf(snap))
      def epoch(f: String): Map[String, String] =
        storedOf(f).collect { case (c, Some(s)) => s -> c } // stored → current
      val fields = snap.files
        .groupBy(f => (PartitionTransform.specDdl(byFile(f)),
          epoch(f).toSeq.sorted.mkString(",")))
        .toSeq.sortBy(_._1).flatMap { case (_, fs) =>
          val specNames = byFile(fs.head).map(_.name).toSet
          val toCurrent = epoch(fs.head)
          spark.read.option("basePath", dataDir)
            .parquet(fs.map(f => s"$dataDir/$f"): _*)
            .schema.fields.filterNot(f => specNames.contains(f.name))
            .map(f => f.copy(name = toCurrent.getOrElse(f.name, f.name)))
        }
      val seen = scala.collection.mutable.LinkedHashMap[String, StructField]()
      fields.foreach(f => if (!seen.contains(f.name)) seen(f.name) = f)
      StructType(seen.values.toSeq)
    }

  // ---- writes ----

  /** S4 — partitioned append. Row count = previous count + the rows the
    * writer reported for the NEW files — an append commit must never
    * re-scan the table. Appending zero rows writes no file, and to a
    * table that has a commit makes no commit either (callers then skip
    * the did-I-have-rows pre-check, which would evaluate the input
    * twice).
    */
  def append(df: DataFrame): CommitMeta = {
    val base = head
    val added = writeFiles(df.select(schemaOf(base).fieldNames.map(df.col): _*), base)
    if (added.isEmpty && base.version > 0) base
    else writeCommit("append", AddFiles(added.map(_.path)), base, added)
  }

  // ---- schema evolution ----

  /** Iceberg-style ADD COLUMN: a METADATA-ONLY commit (same live files,
    * zero data rewritten — the point of lakehouse schema evolution at
    * 100 TB) records the widened schema; files written before it simply
    * miss the column and every read null-fills it, so the added fields
    * must be nullable. Resolution is by parquet column name, so a name
    * that ever existed before is re-added with a log entry that makes
    * older files read it as absent, and [[renameColumn]] and
    * [[dropColumns]] record theirs in the same log — the commit log's
    * stand-in for Iceberg's field ids.
    */
  def addColumns(fields: StructField*): CommitMeta = {
    require(fields.nonEmpty, s"${defn.name}: addColumns with no columns")
    val base = head
    val cur = schemaOf(base)
    val taken = (cur.fieldNames ++ partCols(base)).map(_.toLowerCase).toSet
    fields.foreach { f =>
      require(!taken.contains(f.name.toLowerCase),
        s"${defn.name}: column '${f.name}' already exists")
      require(f.nullable,
        s"${defn.name}: added column '${f.name}' must be nullable — " +
          "files written before the evolution have no values for it")
    }
    val dup = fields.groupBy(_.name.toLowerCase).collect { case (n, fs) if fs.size > 1 => n }
    require(dup.isEmpty, s"${defn.name}: duplicate added column(s) ${dup.mkString(", ")}")
    val next = StructType(cur.fields ++ fields)
    // a re-add of a name that ever existed gets an `add` log entry so
    // files predating it read the column as ABSENT (not as whatever
    // dead values their footers still carry under that name)
    val ever = everNamed(base)
    val prone = fields.filter(f => ever(f.name.toLowerCase))
    writeCommit("evolve-schema", MetadataOnly(), base, edit = c => c.copy(
      schemaDdl = Some(next.toDDL),
      renames = c.renames ++ prone.map(f => s"${c.version}||${f.name}")))
  }

  /** Iceberg-style DROP COLUMN: metadata-only — the column's values stay
    * in existing files (readable through time travel to a pre-drop
    * snapshot) but every current-schema read projects them away. Refuses
    * to drop identifier keys (upsert resolution needs them) and columns
    * a partition transform derives from (the physical layout reads them
    * on every write).
    */
  def dropColumns(names: String*): CommitMeta = {
    require(names.nonEmpty, s"${defn.name}: dropColumns with no columns")
    val base = head
    val cur = schemaOf(base)
    val have = cur.fieldNames.map(n => n.toLowerCase -> n).toMap
    names.foreach { n =>
      require(have.contains(n.toLowerCase), s"${defn.name}: no column '$n'")
      require(!defn.keys.exists(_.equalsIgnoreCase(n)),
        s"${defn.name}: cannot drop identifier key '$n'")
    }
    val dropped = names.map(_.toLowerCase).toSet
    val next = StructType(cur.fields.filterNot(f => dropped.contains(f.name.toLowerCase)))
    require(next.nonEmpty, s"${defn.name}: cannot drop every column")
    // a partition transform that reads a dropped column would break every
    // subsequent write — probe by deriving the partition columns over the
    // narrowed schema, exactly as writeFiles will
    try physicalSchemaOf(next, specOf(base))
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"${defn.name}: a partition transform depends on a dropped column " +
            s"(${e.getMessage.linesIterator.next()})")
    }
    // drop entries are the PERMANENT record that these names existed
    // (they survive snapshot expiry), so a later re-add is detected as
    // resurrection-prone; resolution itself never matches them
    writeCommit("evolve-schema", MetadataOnly(), base, edit = c => c.copy(
      schemaDdl = Some(next.toDDL),
      renames = c.renames ++ names.map(n => s"${c.version}|${have(n.toLowerCase)}|")))
  }

  /** Iceberg-style RENAME COLUMN: a METADATA-ONLY commit (zero data
    * rewritten) records the new name in the schema AND an entry in the
    * carried rename log; every read resolves each file's STORED name
    * from its sequence number against the log — Iceberg reaches the
    * same safety through field ids, this format through versioned name
    * provenance (commit jsons are the only metadata it owns). Old
    * files keep serving their values under the new logical name
    * immediately; [[compact]] migrates stale-named files to the
    * current names on the normal maintenance cadence. Refuses
    * identifier keys (upsert resolution joins on the TableDef names),
    * partition-transform sources and declared sort columns (the write
    * layout derives from them by name), exactly the columns Iceberg
    * users also treat as pinned in practice.
    */
  def renameColumn(oldName: String, newName: String): CommitMeta = {
    val base = head
    val cur = schemaOf(base)
    val exact = cur.fieldNames.find(_.equalsIgnoreCase(oldName)).getOrElse(
      throw new IllegalArgumentException(s"${defn.name}: no column '$oldName'"))
    require(newName.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"${defn.name}: bad column name '$newName'")
    val taken = (cur.fieldNames ++ partCols(base)).map(_.toLowerCase).toSet
    require(!taken.contains(newName.toLowerCase),
      s"${defn.name}: column '$newName' already exists")
    require(!defn.keys.exists(_.equalsIgnoreCase(oldName)),
      s"${defn.name}: cannot rename identifier key '$oldName'")
    require(!specOf(base).exists(_.source.equalsIgnoreCase(oldName)),
      s"${defn.name}: cannot rename partition-transform source '$oldName'")
    require(!defn.sortOrder.exists(_.equalsIgnoreCase(oldName)),
      s"${defn.name}: cannot rename declared sort column '$oldName'")
    val next = StructType(cur.fields.map(f =>
      if (f.name == exact) f.copy(name = newName) else f))
    writeCommit("evolve-schema", MetadataOnly(), base, edit = c => c.copy(
      schemaDdl = Some(next.toDDL), renames = c.renames :+ s"${c.version}|$exact|$newName"))
  }

  /** Iceberg-style partition-spec evolution: a METADATA-ONLY commit
    * switches the spec for FUTURE writes; every existing file keeps the
    * layout it was written under (recorded per file in the commit log),
    * logical reads union the generations transparently, and compact()
    * migrates old-generation files to the current layout on the normal
    * maintenance cadence. Physical reads (which expose one set of p_*
    * columns) refuse while generations are mixed. This is exactly
    * Iceberg's evolution model — no eager rewrite of 100 TB because the
    * partitioning got finer.
    */
  def evolvePartitioning(spec: Seq[PartitionTransform]): CommitMeta = {
    val base = head
    val cur = schemaOf(base)
    spec.foreach { p =>
      require(cur.fieldNames.exists(_.equalsIgnoreCase(p.source)),
        s"${defn.name}: partition source '${p.source}' is not a column")
      require(!cur.fieldNames.exists(_.equalsIgnoreCase(p.name)),
        s"${defn.name}: derived partition column '${p.name}' collides with a data column")
    }
    val names = spec.map(_.name.toLowerCase)
    require(names.distinct.size == names.size,
      s"${defn.name}: duplicate derived partition column names")
    val ddl = PartitionTransform.specDdl(spec)
    require(ddl != PartitionTransform.specDdl(specOf(base)),
      s"${defn.name}: partition spec is already '$ddl'")
    require(PartitionTransform.specDdl(PartitionTransform.parseSpec(ddl)) == ddl,
      s"${defn.name}: partition spec does not round-trip: '$ddl'")
    physicalSchemaOf(cur, spec) // probe derivability against the schema
    writeCommit("evolve-partition", MetadataOnly(partSpecDdl = Some(ddl)), base)
  }

  /** Iceberg's `rollback_to_snapshot`: a NEW commit whose live set (and
    * schema, spec, tombstones) is snapshot `version`'s — the bad
    * commits stay in the log (auditable, still time-travelable) but the
    * head no longer derives from them; expiry reclaims them on the
    * normal cadence. Metadata-only: no data moves. Sink marks are NOT
    * rolled back — a streaming producer must not replay batches the
    * sink already de-duplicated (Iceberg keeps summary properties of
    * rolled-back snapshots out of reach the same way; the mark rides
    * the max over the whole log here).
    */
  def rollback(version: Int): CommitMeta = {
    val base = head
    val target = snapshot(Some(version))
    require(version < base.version,
      s"${defn.name}: rollback target v$version is not an ancestor of v${base.version}")
    // files the head dropped come back with the target's manifest
    // entries: rows, bounds and sequence numbers, so merge-on-read
    // sequence groups stay apart
    writeCommit("rollback", Restore(target), base, edit = _.copy(
      schemaDdl = Some(schemaOf(target).toDDL), morDeleteFiles = target.morDeleteFiles,
      renames = target.renames, posDeleteFiles = target.posDeleteFiles))
  }

  /** Iceberg's `TIMESTAMP AS OF`: the snapshot that was current at
    * `tsMs` (the last commit at or before it).
    */
  def versionAsOf(tsMs: Long): Int = {
    val cs = commits.filter(_.tsMs <= tsMs)
    require(cs.nonEmpty, s"${defn.name}: no snapshot existed at $tsMs")
    cs.last.version
  }

  def readAsOfLogical(tsMs: Long): DataFrame =
    readLogical(Some(versionAsOf(tsMs)))

  /** M1 — full overwrite (CTAS materialization). */
  def overwrite(df: DataFrame): CommitMeta = {
    val base = head
    val added = writeFiles(df.select(schemaOf(base).fieldNames.map(df.col): _*), base)
    // a full rewrite supersedes any pending position deletes
    writeCommit("overwrite", ReplaceContent(Nil, added.map(_.path)), base, added,
      _.copy(posDeleteFiles = Map.empty))
  }

  /** S5 — keyed upsert: rows in `batch` replace live rows with the same
    * identifier-key tuple (latest wins), everything else is carried
    * over. Two strategies, per `TableDef.mergeOnRead`:
    *
    *  - **copy-on-write** (default): surviving+new rows are written as
    *    fresh files and the commit swaps the live set atomically. Write
    *    cost O(table), reads free — right for tables revised rarely.
    *  - **merge-on-read**: ONLY the batch is written; superseded rows
    *    stay in older files and [[readLogical]] resolves latest-wins by
    *    commit sequence. Write cost O(batch) — the only strategy that
    *    survives a continuously-revising streaming upsert at 100 TB
    *    (Iceberg v2's upsert mode is the same trade; its equality
    *    deletes are this sequence rule in file form). Reads pay a
    *    key-shuffle until [[compact]] materializes the merge, so
    *    compaction cadence bounds read cost. Commit rowCount records
    *    PHYSICAL rows (logical count would force the merge at commit).
    */
  def upsert(batch: DataFrame): CommitMeta = {
    require(defn.isUpsert, s"${defn.name} has no identifier keys")
    val base = head
    val cols = schemaOf(base).fieldNames
    val b = batch.select(cols.map(batch.col): _*)
    if (defn.mergeOnRead) {
      // O(batch) addition — latest-wins resolution happens at read, so
      // the commit commutes with interleaved writers like an append
      val added = writeFiles(b, base)
      writeCommit("upsert-mor", AddFiles(added.map(_.path)), base, added)
    } else {
      // null-safe key match (<=>): a name-list join compares with =, so a
      // NULL key tuple never matches and the old null-key row would
      // survive alongside the new one — while the MOR path's latest-wins
      // window groups nulls together and keeps only the newest. Both
      // strategies must stay observably identical.
      val cur = readLogicalAt(base).alias("cur")
      val bb = b.alias("b")
      val sameKey = defn.keys
        .map(k => org.apache.spark.sql.functions.col(s"cur.$k") <=>
          org.apache.spark.sql.functions.col(s"b.$k"))
        .reduce(_ && _)
      val survivors = cur.join(bb, sameKey, "left_anti")
        .select(cols.map(org.apache.spark.sql.functions.col): _*)
      // batch and survivors land in SEPARATE files so the commit can
      // name the batch's files as its change set (changeFiles) — that
      // is what lets readChanges serve CDC rows for a COW upsert
      // instead of refusing (Iceberg's changelog scan reads the same
      // facts from a MERGE's equality-delete files). Same total write
      // volume as one merged write; one extra file per touched
      // partition until the next compact. The COW rewrite reads the
      // visible state (pos deletes applied) and replaces every file —
      // pending tombstones are materialized.
      val batchFiles = writeFiles(b, base)
      val survivorFiles = writeFiles(survivors, base)
      val added = survivorFiles ++ batchFiles
      writeCommit("upsert", ReplaceContent(Nil, added.map(_.path)), base, added,
        _.copy(changeFiles = batchFiles.map(_.path), posDeleteFiles = Map.empty))
    }
  }

  /** S5b — merge-on-read equality DELETE (Iceberg v2 delete files): the
    * commit writes ONLY the key tuples as a tombstone file — O(keys),
    * zero data rewritten, the only delete shape that survives a
    * continuously-deleting stream at 100 TB (GDPR erasure, retraction
    * feeds) — and [[readLogical]] folds tombstones into the latest-wins
    * sequence resolution: a tombstone kills matching rows from OLDER
    * sequences; a later upsert resurrects the key. [[compact]]
    * materializes pending tombstones away, which is what bounds the
    * read-side cost — the same compaction-cadence trade as MOR upserts.
    * Copy-on-write tables use [[replaceWhere]]/[[replaceKeys]] instead.
    * One tombstone file per commit (distinct keys, single writer task);
    * an Iceberg-scale deployment shards delete files per partition —
    * the sequence semantics are unchanged by that split.
    */
  def deleteKeys(staleKeys: DataFrame): CommitMeta = deleteKeys(staleKeys, head)

  private def deleteKeys(staleKeys: DataFrame, base: CommitMeta): CommitMeta = {
    require(defn.mergeOnRead,
      s"${defn.name}: equality deletes are merge-on-read only — " +
        "copy-on-write tables use replaceWhere/replaceKeys")
    val k = staleKeys.select(defn.keys.map(staleKeys.col): _*)
      .distinct().repartition(1)
    val added = writeRows(k, Nil)
    if (added.isEmpty) base // zero keys → no file, no commit
    else writeCommit("delete-mor", TombstoneEq, base,
      edit = c => c.copy(morDeleteFiles = c.morDeleteFiles ++ added.map(_.path -> c.version)))
  }

  /** Schema of a position-delete tombstone file. */
  private val posPairSchema = StructType(Seq(
    StructField("__file", StringType), StructField("__pos", LongType)))

  /** The (data file, row index) pairs a set of pos-delete files holds. */
  private def posPairs(posFiles: Seq[String]): DataFrame =
    spark.read.schema(posPairSchema)
      .parquet(posFiles.map(f => s"$dataDir/$f"): _*)

  /** Anti-join pending position deletes out of a provenance-carrying
    * read (one produced with `withPos = true`). The tombstone side is
    * broadcast while it fits an executor budget — the overwhelmingly
    * common case (a predicate delete's tombstones are O(matches), tiny
    * next to the table) — so the read pays no extra shuffle; past the
    * bound it degrades to a shuffled anti-join, never to wrong rows.
    */
  private def applyPosDeletes(data: DataFrame, posFiles: Seq[String]): DataFrame = {
    val totalBytes = posFiles.map(f => new File(s"$dataDir/$f").length()).sum
    val dels = posPairs(posFiles)
    val hinted =
      if (totalBytes <= GraftTable.PosDeleteBroadcastBytes)
        org.apache.spark.sql.functions.broadcast(dels)
      else dels
    data.join(hinted, Seq("__file", "__pos"), "left_anti")
  }

  /** S5c — predicate DELETE, Iceberg v2's position-delete shape (`DELETE
    * FROM ... WHERE <any predicate>`): scans the VISIBLE state with file
    * /row-index provenance, writes ONLY the matching rows' (file, pos)
    * tuples as a tombstone file — O(matches) written, zero data
    * rewritten — and every logical read anti-joins them away until
    * [[compact]] rewrites exactly the files the tombstones reference.
    * This is the delete shape for non-key predicates on append/COW
    * tables, where [[replaceWhere]] would rewrite every overlapping
    * file; at 100 TB a small predicate delete must not cost a window
    * rewrite. The scan applies PENDING tombstones first, so a second
    * delete never re-tombstones an already-deleted row.
    *
    * Merge-on-read tables DELEGATE to [[deleteKeys]] on the matching
    * visible rows' keys: MOR shadowing is implicit (latest-wins by
    * sequence), so a position delete of a key's newest physical row
    * would resurface its superseded versions — the equality-delete form
    * is the one with sound semantics there, and it is key-granular (a
    * matching row deletes its whole key tuple). One tombstone file per
    * commit (single writer task); an Iceberg-scale deployment shards
    * delete files per partition — the read semantics are unchanged.
    */
  def deleteWhere(condition: org.apache.spark.sql.Column): CommitMeta =
    deleteWhere(condition, None)

  /** With a [[RangePrune]] hint, the match scan opens ONLY the files
    * whose footer bounds intersect the range (same caller contract as
    * [[replaceWhere]]: every row the condition can match lies inside
    * it) — a bounded predicate delete then reads O(window), writes
    * O(matches), and rewrites nothing.
    */
  def deleteWhere(condition: org.apache.spark.sql.Column,
      prune: Option[RangePrune]): CommitMeta = {
    val base = head
    if (defn.mergeOnRead)
      return deleteKeys(readLogicalAt(base).filter(condition), base)
    if (base.files.isEmpty) return base
    val (_, overlapping) = classifyLiveFiles(base, prune)
    val scanned = readFilesLogicalSpecAware(overlapping, schemaOf(base), base,
      withPos = true)
    val visible = base.posDeleteFiles.keys.toSeq.sorted match {
      case Nil => scanned
      case ps => applyPosDeletes(scanned, ps)
    }
    val matches = visible.filter(condition)
      .select(org.apache.spark.sql.functions.col("__file"),
        org.apache.spark.sql.functions.col("__pos"))
      .repartition(1)
    val added = writeRows(matches, Nil)
    if (added.isEmpty) base // zero matches → no file, no commit
    else writeCommit("delete-pos", TombstonePos, base,
      edit = c => c.copy(posDeleteFiles = c.posDeleteFiles ++ added.map(_.path -> c.version)))
  }

  /** Refuse a raw-file read or rewrite of `base` (range reads, replace
    * rewrites) while it would resurface rows: un-compacted merge-on-read
    * sequences need ALL of a key's files to resolve latest-wins, and
    * pending tombstones of either kind are applied only by logical
    * reads. compact() clears all three.
    */
  private def requireRawFiles(base: CommitMeta, what: String): Unit = {
    require(!defn.mergeOnRead || (morSequences(base) <= 1 && base.morDeleteFiles.isEmpty),
      s"${defn.name}: $what over un-compacted merge-on-read sequences is unsound — " +
        "compact() first")
    require(base.posDeleteFiles.isEmpty,
      s"${defn.name}: $what with pending position deletes is unsound — compact() first")
  }

  /** Targeted delete+re-insert for the materializer repair passes
    * (M4–M6): drop live rows matching `condition`, append `replacement`.
    * With a [[RangePrune]] hint, files provably outside the repair range
    * survive into the new commit untouched; only overlapping files are
    * read, row-filtered, and rewritten.
    */
  def replaceWhere(
      condition: org.apache.spark.sql.Column,
      replacement: DataFrame,
      prune: Option[RangePrune] = None,
      trackChanges: Boolean = false): CommitMeta = {
    val base = head
    requireRawFiles(base, "replace")
    val (untouched, toRewrite) = classifyLiveFiles(base, prune)
    val rows = readFilesLogicalSpecAware(toRewrite, schemaOf(base), base)
    rewrite(base, untouched, rows.filter(!condition || condition.isNull),
      rows.filter(condition), replacement, trackChanges)
  }

  /** Keyed delete+re-insert: drop live rows whose `keyCols` tuple appears
    * in `staleKeys`, append `replacement`. The deletion is an anti-join
    * (distributed — no driver-side key collection), so it scales to
    * arbitrarily many stale keys; this is the engine's MERGE primitive
    * for the materializer repair passes (M5/M6). The key set is counted
    * once (persisted, so the count is not a recompute) and BROADCAST
    * when bounded — the steady-state repair case, where keys come from a
    * fixed detection window — turning the delete into a broadcast
    * anti-join with zero shuffle of the rewritten rows; past the bound
    * it stays a shuffled join. `prune` is only safe when every row a
    * stale key can match lies inside the range (e.g. the key tuple
    * includes the timestamp column) — the caller asserts that by
    * passing it.
    */
  def replaceKeys(
      staleKeys: DataFrame,
      keyCols: Seq[String],
      replacement: DataFrame,
      prune: Option[RangePrune] = None,
      knownKeyCount: Option[Long] = None,
      trackChanges: Boolean = false): CommitMeta = {
    val base = head
    requireRawFiles(base, "replace")
    val keyProj = staleKeys.select(keyCols.map(staleKeys.col): _*)
    // `knownKeyCount` = the caller already distincted/persisted/counted
    // the key set (the Materializer repair passes do) — reuse it rather
    // than re-shuffling and re-caching the same keys; duplicates are
    // harmless to a left-anti join, so no defensive distinct either way
    val (keys, ownedCache, nKeys) = knownKeyCount match {
      case Some(n) => (keyProj, false, n)
      case None =>
        val k = keyProj.distinct().persist()
        (k, true, k.count())
    }
    try {
      if (nKeys == 0) {
        // nothing to delete ⇒ nothing may be inserted either (a repair
        // pass derives `replacement` FROM the keys; silently dropping a
        // non-empty replacement here would lose data for any caller
        // using this as insert-or-replace — that caller wants append).
        // The isEmpty probe is one limit-1 job on the rare no-op path.
        require(replacement.isEmpty,
          s"${defn.name}: replaceKeys with zero keys but a non-empty replacement — use append")
        return base
      }
      val (untouched, toRewrite) = classifyLiveFiles(base, prune)
      val hinted =
        if (nKeys <= GraftTable.BroadcastKeyLimit)
          org.apache.spark.sql.functions.broadcast(keys)
        else keys
      val rows = readFilesLogicalSpecAware(toRewrite, schemaOf(base), base)
      // the deleted rows are the keys' SEMI-join complement of keep
      rewrite(base, untouched, rows.join(hinted, keyCols, "left_anti"),
        rows.join(hinted, keyCols, "left_semi"), replacement, trackChanges)
    } finally if (ownedCache) keys.unpersist()
  }

  /** The rewrite tail of both replace forms: `keep` (the rewritten
    * files' surviving rows) and `replacement` land as new files beside
    * the `untouched` ones. Nothing deleted (every live file untouched)
    * and nothing inserted is a no-op: no commit, mirroring append()'s
    * zero-row skip.
    *
    * With `trackChanges` (opt-in — the CDC writes are a real extra cost
    * the default repair path must not pay) the replacement lands in its
    * OWN files (the commit's change set) and `deleted`, the rows the
    * rewrite removes, is materialized as DELETE files (one extra scan
    * of the rewritten window, O(affected window) like the rewrite
    * itself) — Iceberg v2's delete-file scheme, which is what lets
    * readChanges serve insert+delete rows for a repair instead of
    * forcing a consumer full-resync.
    */
  private def rewrite(base: CommitMeta, untouched: Seq[String], keep: DataFrame,
      deleted: DataFrame, replacement: DataFrame, trackChanges: Boolean): CommitMeta = {
    val repl = replacement.select(schemaOf(base).fieldNames.map(replacement.col): _*)
    if (trackChanges) {
      val keepFiles = writeFiles(keep, base)
      val replFiles = writeFiles(repl, base)
      val delFiles = writeFiles(deleted, base)
      writeCommit("replace-cdc",
        ReplaceContent(untouched, (keepFiles ++ replFiles).map(_.path)), base,
        keepFiles ++ replFiles,
        _.copy(changeFiles = replFiles.map(_.path), deleteFiles = delFiles.map(_.path)))
    } else {
      val added = writeFiles(keep.unionByName(repl), base)
      if (base.version > 0 && untouched.size == base.files.size && added.isEmpty) base
      else writeCommit("replace", ReplaceContent(untouched, added.map(_.path)), base, added)
    }
  }

  /** Split `base`'s live files into (provably-outside-range → carry
    * over, possibly-overlapping → rewrite). No hint, or any file with
    * unusable stats, degrades to rewriting everything — never to wrong
    * results.
    */
  private def classifyLiveFiles(base: CommitMeta,
      prune: Option[RangePrune]): (Seq[String], Seq[String]) =
    prune match {
      case None => (Nil, base.files)
      case Some(p) =>
        // bounds come from the snapshot's MANIFEST entries (persisted at
        // write time) — a metadata-log lookup, zero data-file footer IO.
        // Manifests store bounds under the WRITE-TIME column name, so a
        // renamed pruning column is probed under each file's stored name
        // (a miss there degrades to rewrite, never to a wrong carry).
        val bounds = boundsByFile(base, base.files, storedColumnByFile(p.column, base))
        if (bounds.exists(_._2.isEmpty)) (Nil, base.files)
        else {
          val (out, in) = bounds.partition {
            case (_, Some((lo, hi))) => hi < p.loMicros || lo > p.hiMicros
            case _ => false
          }
          (out.map(_._1), in.map(_._1))
        }
    }

  /** Per-file bounds of a (possibly renamed) column over `files`, from
    * the manifest entries: a key present is the written bounds, a key
    * absent means the stats were unusable at write time (None — the
    * caller treats the file as "may contain anything").
    */
  private def boundsByFile(snap: CommitMeta, files: Seq[String],
      stored: String => String): Seq[(String, Option[(Long, Long)])] = {
    val entries = entriesOf(snap)
    files.map { f =>
      val e = entries(f)
      // a zero-row file (the schema-only file Spark's writer left for
      // an empty write) has no blocks and so no recorded columns — its
      // bounds are the empty range for EVERY column
      f -> (if (e.r == 0L) Some((Long.MaxValue, Long.MinValue))
        else e.b.find(_.c == stored(f)).map(cb => (cb.lo, cb.hi)))
    }
  }

  /** file → the name the file's FOOTER stores for the current logical
    * column `cur` of `snap` (identity when the table was never renamed
    * — the common case allocates nothing per file).
    */
  private def storedColumnByFile(cur: String, snap: CommitMeta): String => String = {
    val log = renameLogOf(snap)
    if (log.isEmpty) _ => cur
    else {
      val seq = sequenceOf(snap)
      // absent-for-epoch → probe a name no footer has: stats come back
      // unusable and the caller degrades to reading the file (safe)
      f => storedNameOf(cur, seq(f), log).getOrElse("\u0000absent")
    }
  }

  /** Footer max of an INT64/timestamp column over the live snapshot — a
    * metadata-only watermark read. None ⇒ stats unusable on some file or
    * no non-null value anywhere; callers fall back to a data scan.
    */
  def columnMaxMicros(colName: String): Option[Long] = {
    val base = head
    val bounds = boundsByFile(base, base.files, storedColumnByFile(colName, base)).map(_._2)
    if (bounds.exists(_.isEmpty)) None
    else bounds.flatten.map(_._2).filter(_ != Long.MinValue) match {
      case Nil => None
      case maxes => Some(maxes.max)
    }
  }

  /** Range-pruned logical read: only live files whose footer bounds
    * intersect `[loMicros, hiMicros]` of `colName` are opened (plus any
    * with unusable stats). Callers still apply their exact row filter —
    * this prunes FILES the way the replace path does, so a bounded
    * repair window reads O(window), not O(table). Raw-file read: a
    * merge-on-read table with un-compacted upsert sequences would need
    * ALL of a key's files to resolve latest-wins, which file pruning
    * cannot guarantee — refuse loudly rather than return superseded
    * rows (compact() collapses a MOR table to one sequence, after which
    * the read is sound again).
    */
  def readRangeLogical(colName: String, loMicros: Long, hiMicros: Long): DataFrame = {
    val base = head
    requireRawFiles(base, "range read")
    val (_, overlapping) =
      classifyLiveFiles(base, Some(RangePrune(colName, loMicros, hiMicros)))
    readFilesLogicalSpecAware(overlapping, schemaOf(base), base)
  }

  /** Distinct upsert sequences among `snap`'s live files (1 after
    * compaction; raw-file reads of a merge-on-read table are sound only
    * then).
    */
  private def morSequences(snap: CommitMeta): Int =
    if (snap.files.isEmpty) 0 else snap.files.map(sequenceOf(snap)).distinct.size

  /** Raw read of specific data files, projected to the logical columns —
    * the incremental-scan primitive: the materializer reads ONLY the
    * files a snapshot delta added, O(new data) regardless of table size.
    * Append-only file sets only (a merge-on-read file does not carry its
    * shadowed rows); the caller asserts that by knowing the delta's ops.
    */
  private[graft] def readFilesLogical(files: Seq[String]): DataFrame = {
    val base = head
    readFilesLogicalSpecAware(files, schemaOf(base), base)
  }

  /** Plain read of `files` under `logical` laid out by `spec`: the
    * physical schema, partition columns included.
    */
  private def readFilesAs(files: Seq[String], logical: StructType,
      spec: Seq[PartitionTransform]): DataFrame = {
    val phys = physicalSchemaOf(logical, spec)
    if (files.isEmpty) spark.createDataFrame(new java.util.ArrayList[Row](), phys)
    else spark.read.option("basePath", dataDir).schema(phys)
      .parquet(files.map(f => s"$dataDir/$f"): _*)
  }

  /** Relative-to-dataDir path of the row's source file, from the
    * parquet `_metadata` hidden column — the provenance half of a
    * position delete's (file, pos) identity.
    */
  private def relFileCol: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    element_at(split(col("_metadata.file_path"),
      java.util.regex.Pattern.quote(s"$dataDir/")), 2)
  }

  /** file → its non-identity stored names for the columns of `logical`
    * under `log` ([[storedNamesAt]] at the file's sequence number in
    * `snap`): Some(other) = stored under a pre-rename name; None =
    * ABSENT for that epoch (predates a resurrection-prone re-add — must
    * NOT read the dead same-named column the file may still carry).
    * Empty for every file while the log is; a file with no entry in
    * `snap` (defensive default) reads as current-named.
    */
  private def storedNamesByFile(snap: CommitMeta, logical: StructType,
      log: Seq[(Int, String, String)]): String => Map[String, Option[String]] =
    if (log.isEmpty) _ => Map.empty
    else {
      val seq = sequenceOf(snap)
      f => storedNamesAt(logical, seq(f), log).filter { case (c, s) => s != Some(c) }
    }

  /** Read `files`, one group written under `spec` that stores the
    * columns of `logical` under `stored` (a [[storedNamesByFile]]
    * value), aliased to the logical names — a column absent for the
    * group reads as null — followed by `extra` columns.
    */
  private def readStoredAs(files: Seq[String], logical: StructType,
      spec: Seq[PartitionTransform], stored: Map[String, Option[String]],
      extra: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val storedSchema = StructType(logical.fields.flatMap(f => stored.get(f.name) match {
      case Some(None) => None // absent: never read the dead column
      case Some(Some(s)) => Some(f.copy(name = s))
      case None => Some(f)
    }))
    readFilesAs(files, storedSchema, spec).select(logical.fields.map(f =>
      stored.get(f.name) match {
        case Some(None) => lit(null).cast(f.dataType).as(f.name)
        case Some(Some(s)) => col(s).as(f.name)
        case None => col(f.name)
      }) ++ extra: _*)
  }

  /** Logical projection over arbitrary live files of `snap`,
    * PARTITION-SPEC- and RENAME-aware: files are grouped by the spec
    * they were written under AND by their stored-name epoch (which
    * renames they predate), each group is read with its own directory
    * layout and its own stored column names ([[readStoredAs]]), then
    * unioned — how every logical-level consumer survives a partition
    * evolution or a column rename (a never-evolved table is one group).
    * Rename resolution defaults to the snapshot's own log; a caller
    * projecting a LATER schema (readChanges' range-end contract)
    * passes the later log, so post-snapshot renames still map the
    * files' stored names onto the projected ones.
    */
  private def readFilesLogicalSpecAware(files: Seq[String], logical: StructType,
      snap: CommitMeta, withPos: Boolean = false,
      renameLog: Option[Seq[(Int, String, String)]] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (files.isEmpty) {
      val schema =
        if (!withPos) logical
        else StructType(logical.fields ++ Seq(
          StructField("__file", StringType), StructField("__pos", LongType)))
      return spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    }
    val posCols =
      if (withPos) Seq(relFileCol.as("__file"), col("_metadata.row_index").as("__pos"))
      else Nil
    val byFile = specsByFile(snap)
    val storedOf = storedNamesByFile(snap, logical, renameLog.getOrElse(renameLogOf(snap)))
    files.groupBy(f => (PartitionTransform.specDdl(byFile(f)),
        storedOf(f).toSeq.sortBy(_._1).mkString(",")))
      .toSeq.sortBy(_._1)
      .map { case (_, fs) => readStoredAs(fs, logical, byFile(fs.head), storedOf(fs.head), posCols) }
      .reduce(_.unionByName(_))
  }

  // ---- streaming sink bookkeeping ----

  /** Sink mark the NEXT commit must persist, set by [[withSinkMark]].
    * Thread-local: a sink is single-writer per sinkId by the Structured
    * Streaming contract, but OTHER writers (maintenance, another sink)
    * may commit this table concurrently and must not pick up — or
    * clobber — a mark that is not theirs.
    */
  private val pendingSinkMark: ThreadLocal[Map[String, Long]] =
    ThreadLocal.withInitial(() => Map.empty[String, Long])

  /** Run `body` (zero or more table commits for micro-batch `batchId` of
    * `sinkId`) such that the batch watermark lands ATOMICALLY with the
    * data: every commit `body` makes embeds (sinkId → batchId) in its
    * own CAS-published CommitMeta, exactly as Iceberg's sink stores the
    * batch id in snapshot summary properties. There is no window where
    * the data is committed but the mark is not — a crash anywhere leaves
    * either (no data, no mark) or (data, mark), and the Spark retry of
    * the same batchId is skipped or replayed correspondingly. If `body`
    * commits nothing (empty batch), the mark goes to the side file
    * instead — nothing was appended, so a replay is harmless either way.
    * The did-body-commit probe asks for THIS sink's mark (not a version
    * diff): under concurrent writers the version moving proves nothing
    * about whose commit moved it.
    */
  def withSinkMark(sinkId: String, batchId: Long)(body: => Unit): Unit = {
    pendingSinkMark.set(Map(sinkId -> batchId))
    try body
    finally pendingSinkMark.set(Map.empty)
    if (lastCommittedBatch(sinkId) < batchId) markCommittedBatch(sinkId, batchId)
  }

  /** Last micro-batch id committed into this table by `sinkId`, or -1.
    * Spark retries a failed micro-batch under the SAME batchId, so a
    * foreachBatch sink must deduplicate on it (the Structured Streaming
    * contract). Authoritative source is the latest commit's embedded
    * `sinkBatches`; the side file only covers batches that committed no
    * data.
    */
  private def streamState: Map[String, Long] = {
    val p = Paths.get(s"$commitsDir/stream-state.json")
    if (!Files.exists(p)) Map.empty
    else mapper.readValue(p.toFile, classOf[Map[String, Any]])
      .map { case (k, v) => k -> v.asInstanceOf[Number].longValue }
  }

  def lastCommittedBatch(sinkId: String): Long = {
    val inCommit = head.sinkBatches.getOrElse(sinkId, -1L)
    math.max(inCommit, streamState.getOrElse(sinkId, -1L))
  }

  /** Side-file mark for batches that committed no data. NOT atomic with
    * any commit — only [[withSinkMark]] may rely on it, and only for the
    * empty-batch case.
    */
  private def markCommittedBatch(sinkId: String, batchId: Long): Unit = synchronized {
    // in-process read-modify-write guard; cross-process the mark is
    // per-sinkId single-writer (the streaming contract), so two
    // processes never race the SAME key, and a torn union of different
    // keys only re-delivers an EMPTY batch — harmless by construction
    val p = Paths.get(s"$commitsDir/stream-state.json")
    val tmp = Paths.get(s"$commitsDir/.tmp-stream-state-${java.util.UUID.randomUUID()}.json")
    Files.writeString(tmp, mapper.writeValueAsString(streamState + (sinkId -> batchId)))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING)
  }

  // ---- maintenance ----

  /** Live files of `snap` storing pre-rename column names (under its
    * schema and log) — compaction migrates them like stale-spec files.
    * Any non-identity resolution flags migration: renamed-stored files
    * AND absent-for-epoch files (pre-resurrection) — rewriting the
    * latter materializes the nulls and drops the dead bytes. A plain
    * non-prone ADD records no entry, so it still never forces a rewrite
    * (the metadata-only contract).
    */
  private def staleNamedFiles(snap: CommitMeta): Set[String] = {
    val storedOf = storedNamesByFile(snap, schemaOf(snap), renameLogOf(snap))
    snap.files.filter(f => storedOf(f).nonEmpty).toSet
  }

  /** Live files of an unpartitioned sorted table whose ranges of the
    * leading sort column overlap another live file's. The writer gives
    * each such file a disjoint slice of that column (see [[writeFiles]])
    * so a range read opens O(window) files; appends written apart
    * overlap, and compaction re-sorts them. Files without usable
    * bounds on the column are left out.
    */
  private def overlappingSortedFiles(snap: CommitMeta): Set[String] =
    if (specOf(snap).nonEmpty || defn.sortOrder.isEmpty) Set.empty
    else {
      val ranges = boundsByFile(snap, snap.files, storedColumnByFile(defn.sortOrder.head, snap))
        .collect { case (f, Some((lo, hi))) if lo <= hi => (f, lo, hi) }
        .sortBy(_._2)
      // runs of transitively overlapping ranges, swept in `lo` order
      val runs = ranges.foldLeft(List.empty[(Long, List[String])]) {
        case ((runHi, fs) :: rest, (f, lo, hi)) if lo <= runHi =>
          (math.max(runHi, hi), f :: fs) :: rest
        case (acc, (f, _, hi)) => (hi, List(f)) :: acc
      }
      runs.flatMap { case (_, fs) => if (fs.size > 1) fs else Nil }.toSet
    }

  /** True iff a compaction at `targetBytes` would actually IMPROVE the
    * table — the gate must converge, so it asks "would compacting
    * reduce anything", not "are files small":
    *  - merge-on-read: >1 SEQUENCE GROUP among live files (compaction
    *    materializes the latest-wins merge; a multi-file single-group
    *    table is already merged and stays untouched);
    *  - copy-on-write: merging the under-sized files would yield FEWER
    *    files than they currently occupy (3×100 MB at a 128 MB target
    *    can't improve and must not re-flag forever), or an unpartitioned
    *    sorted table has files whose sorted slices overlap (the
    *    range-distributed rewrite leaves them disjoint).
    * A maintenance sweep uses this to skip clean tables.
    */
  def needsCompaction(targetBytes: Long = 128L * 1024 * 1024): Boolean = {
    val base = head
    val live = base.files
    // files left on an old partition-spec generation (or storing
    // pre-rename column names) migrate via compaction (Iceberg:
    // rewrite_data_files after a spec evolution)
    val byFile = specsByFile(base)
    val cur = PartitionTransform.specDdl(specOf(base))
    val staleSpec = live.exists(f => PartitionTransform.specDdl(byFile(f)) != cur) ||
      staleNamedFiles(base).nonEmpty
    if (staleSpec) true
    else if (defn.mergeOnRead) {
      // pending tombstones also compact away (readLogical folds them in)
      morSequences(base) > 1 || base.morDeleteFiles.nonEmpty
    } else if (base.posDeleteFiles.nonEmpty) true // pending position deletes materialize away
    else if (overlappingSortedFiles(base).nonEmpty) true
    else {
      val small = live.filter(f => new File(s"$dataDir/$f").length() < targetBytes * 9 / 10)
      val smallBytes = small.map(f => new File(s"$dataDir/$f").length()).sum
      small.size > 1 &&
        math.max(1, math.ceil(smallBytes.toDouble / targetBytes).toInt) < small.size
    }
  }

  /** M7 — binpack compaction: files already near `targetBytes` carry
    * into the new commit BY NAME; only under-sized files are read,
    * merged, and rewritten (reference threshold 128 MB,
    * maintenance.sh:66-67; Iceberg's rewrite_data_files binpack makes
    * the same split). At 100 TB this is what keeps a maintenance pass
    * O(small files), not O(table). Partition layout is preserved —
    * the rewrite repartitions by partition value before writing.
    *
    * Exception: merge-on-read tables compact EVERYTHING — compaction
    * doubles as the merge materializer there, and carrying a file by
    * name would leave it on an older sequence than the rewrite,
    * manufacturing a bogus latest-wins ordering.
    *
    * When no file needs a rewrite and no tombstone is pending (an
    * empty table included), the head is returned unchanged and nothing
    * is written.
    */
  def compact(targetBytes: Long = 128L * 1024 * 1024): CommitMeta = {
    val base = head
    val live = base.files
    val curSpec = PartitionTransform.specDdl(specOf(base))
    val byFile = specsByFile(base)
    val staleNames = staleNamedFiles(base)
    val overlapping = overlappingSortedFiles(base)
    // files referenced by pending position deletes must rewrite (with
    // the tombstones applied) — an unreferenced file still carries by
    // name, so a small predicate delete compacts O(touched files)
    val pendingPos = base.posDeleteFiles.keys.toSeq.sorted
    val posRefs: Set[String] =
      if (pendingPos.isEmpty) Set.empty
      else posPairs(pendingPos).select("__file").distinct()
        .collect().map(_.getString(0)).toSet
    val (keep, small) =
      if (defn.mergeOnRead) (Nil, live)
      // a file carries by name only if it is big enough AND on the
      // current partition spec AND stores the current column names AND
      // holds no position-deleted rows AND keeps its sorted slice
      // disjoint — compaction doubles as the layout/name/delete/sort
      // migrator after an evolution, rename, predicate delete, or
      // overlapping sorted appends
      else live.partition(f => new File(s"$dataDir/$f").length() >= targetBytes * 9 / 10 &&
        PartitionTransform.specDdl(byFile(f)) == curSpec &&
        !staleNames.contains(f) && !posRefs.contains(f) && !overlapping.contains(f))
    // nothing to rewrite and no tombstone to materialize: the head is
    // already compact, and, as for an append of no rows, no commit lands
    if (small.isEmpty && pendingPos.isEmpty && base.morDeleteFiles.isEmpty)
      return base
    val smallBytes = small.map(f => new File(s"$dataDir/$f").length()).sum
    val nFiles = math.max(1, math.ceil(smallBytes.toDouble / targetBytes).toInt)
    val logical = schemaOf(base)
    val df =
      if (defn.mergeOnRead) readLogicalAt(base) // resolves latest-wins
      else if (pendingPos.isEmpty) readFilesLogicalSpecAware(small, logical, base)
      else applyPosDeletes(
        readFilesLogicalSpecAware(small, logical, base, withPos = true), pendingPos)
        .select(logical.fieldNames.map(org.apache.spark.sql.functions.col): _*)
    // the binpack count goes through writeFiles, which owns the final
    // repartition — a pre-repartition here would be re-shuffled (and its
    // sizing discarded) by writeFiles' own partition-value distribution
    val added = writeFiles(df, base, Some(nFiles))
    // a compact materialized every pending tombstone (equality AND
    // position) into the rewrite; a content-preserving rewrite, so it
    // replays over interleaved appends (validateIntent re-checks its
    // inputs are still live)
    writeCommit("compact", RewriteFiles(small.toSet, added.map(_.path)), base, added,
      clearTombstones)
  }

  /** The edit of a rewrite that materialized every pending tombstone. */
  private val clearTombstones: CommitMeta => CommitMeta =
    _.copy(morDeleteFiles = Map.empty, posDeleteFiles = Map.empty)

  /** M7b — z-order clustering rewrite (the Delta `OPTIMIZE ZORDER BY` /
    * Iceberg sort-strategy `rewrite_data_files` analog): rewrite the
    * live snapshot ordered by the bit-interleaved z-value of `zcols`,
    * range-distributed so every output file covers a contiguous z-range
    * — a narrow box in EVERY clustered dimension, not just a sort
    * leader. Footer min/max pruning ([[readRangeLogical]] /
    * [[RangePrune]]) then skips files for predicates on ANY of the
    * clustered columns; a linearly-written table only ever prunes on
    * its write-order column. Each column is normalized to a
    * min(21, 63/n)-bit bucket of its global [min, max] (one scalar
    * aggregate) so range skew cannot starve bit positions and every
    * interleaved bit stays below the sign bit at any column count.
    * Integral/timestamp columns only
    * (those are the ones parquet footers carry orderable INT64 stats
    * for). A PARTITIONED table applies the identical rewrite WITHIN
    * each partition: rows range-distribute on (partition values, z) —
    * so a slice never mixes z-ranges across partition values except at
    * slice boundaries — and sort within, giving every file inside a
    * partition directory a narrow box in each clustered dimension on
    * top of the directory pruning the partitioning already provides
    * (Iceberg's sort-strategy rewrite_data_files composes the same
    * way). Partition-transform SOURCE columns are not meaningful
    * z-columns there (the directory already splits them) and refuse.
    */
  def compactZOrder(zcols: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024): CommitMeta = {
    import org.apache.spark.sql.functions._
    require(zcols.size >= 2, "z-order clustering needs at least 2 columns")
    val base = head
    val spec = specOf(base)
    zcols.foreach(c => require(!spec.exists(_.source.equalsIgnoreCase(c)),
      s"${defn.name}: '$c' is a partition-transform source — the directory " +
        "layout already clusters it; z-order the residual columns"))
    val live = base.files
    require(live.nonEmpty, s"${defn.name}: nothing to z-order")
    val df = readLogicalAt(base)
    val totalBytes = live.map(f => new File(s"$dataDir/$f").length()).sum
    val nFiles = math.max(2, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val statCols = zcols.flatMap(c =>
      Seq(min(col(c).cast("long")), max(col(c).cast("long"))))
    val stats = df.agg(statCols.head, statCols.tail: _*).first()
    zcols.zipWithIndex.foreach { case (c, i) =>
      require(!stats.isNullAt(2 * i),
        s"${defn.name}: z-order column '$c' has no orderable integral values " +
          "(all-null, or not castable to long) — integral/timestamp columns only")
    }
    val n = zcols.size
    // bits per column shrink with column count so every interleaved bit
    // position stays below the long's sign bit (21 bits at n≤3, 15 at
    // n=4, 12 at n=5, …) — positions ≥ 63 would be masked by shiftleft
    // and silently collide bit planes across columns
    val bits = math.min(21, 63 / n)
    val nBuckets = 1L << bits
    // truncating double division is fine here (a boundary off-by-one
    // only nudges clustering, never correctness — footer bounds stay
    // exact)
    val buckets = zcols.zipWithIndex.map { case (c, i) =>
      val lo = stats.getLong(2 * i)
      val hi = stats.getLong(2 * i + 1)
      val scale = math.max(1L, (hi - lo) / nBuckets + 1L)
      least(lit(nBuckets - 1), coalesce(
        ((col(c).cast("long") - lit(lo)) / lit(scale)).cast("long"), lit(0L)))
    }
    val z = (0 until bits).flatMap { b =>
      buckets.zipWithIndex.map { case (bc, i) =>
        shiftleft(shiftright(bc, b).bitwiseAND(lit(1L)), b * n + i)
      }
    }.reduce(_ + _)
    val fieldCols = schemaOf(base).fieldNames.map(col)
    val added =
      if (spec.isEmpty) {
        val ordered = df.withColumn("__z", z)
          .repartitionByRange(nFiles, col("__z"))
          .sortWithinPartitions("__z")
          .select(fieldCols: _*)
        writeFiles(ordered, base)
      } else {
        // within-partition form: range-distribute on (partition values,
        // z) so each output slice is a contiguous z-range inside one
        // partition (boundary slices split by directory at write), then
        // sort within — and write DIRECTLY (writeFiles would re-shuffle
        // to one task per partition value, collapsing the z split)
        val parts = partCols(base)
        val pcols = parts.map(col)
        val shaped = withPartitionCols(df.withColumn("__z", z), base)
          .repartitionByRange(math.max(nFiles, 2), (pcols :+ col("__z")): _*)
          .sortWithinPartitions((pcols :+ col("__z")): _*)
          .select(fieldCols ++ pcols: _*)
        writeRows(shaped, parts)
      }
    // the clustering rewrite reads the visible state and replaces every
    // file — pending tombstones (either kind) are materialized
    writeCommit("zorder", RewriteFiles(live.toSet, added.map(_.path)), base, added,
      clearTombstones)
  }

  // ---- refs: tags + branches (write-audit-publish) ----

  private def requireMain(op: String): Unit =
    require(branch.isEmpty, s"${defn.name}: $op is a main-table operation, " +
      s"not valid on branch '${branch.get}'")

  private def checkRefName(name: String): Unit =
    require(name.matches("[A-Za-z0-9_-]+"), s"${defn.name}: bad ref name '$name'")

  private def tagPath(name: String) = Paths.get(s"$refsDir/tag-$name.json")
  private def branchMarkPath(name: String) = Paths.get(s"$refsDir/branch-$name.json")
  private def branchDir(name: String) = Paths.get(s"$tableDir/_commits/branch-$name")

  /** Named immutable snapshot pointers (Iceberg tags): tag → version.
    * A tagged snapshot is retention-exempt — [[expireSnapshots]] keeps
    * it until the tag is dropped — so audits and reproducible reads
    * (e.g. "the exact training-set snapshot") survive the maintenance
    * cadence.
    */
  def tags: Map[String, Int] = {
    val fs = Option(new File(refsDir).listFiles()).getOrElse(Array.empty)
    fs.filter(_.getName.matches("tag-.*\\.json")).map { f =>
      val m = mapper.readValue(f, classOf[Map[String, Any]])
      m("name").toString -> m("version").asInstanceOf[Number].intValue
    }.toMap
  }

  def createTag(name: String, version: Option[Int] = None): Unit = {
    requireMain("createTag")
    checkRefName(name)
    require(!Files.exists(tagPath(name)), s"${defn.name}: tag '$name' exists")
    val v = snapshot(version).version
    require(v > 0, s"${defn.name}: no snapshot v0 to tag")
    Files.createDirectories(Paths.get(refsDir))
    val tmp = Paths.get(s"$refsDir/.tmp-tag-$name.json")
    Files.writeString(tmp, mapper.writeValueAsString(Map("name" -> name, "version" -> v)))
    Files.move(tmp, tagPath(name), StandardCopyOption.ATOMIC_MOVE)
  }

  def dropTag(name: String): Unit = {
    requireMain("dropTag")
    require(Files.deleteIfExists(tagPath(name)), s"${defn.name}: no tag '$name'")
  }

  /** Read the snapshot a tag pins (logical columns, tag-time schema). */
  def readTagLogical(name: String): DataFrame = {
    val v = tags.getOrElse(name,
      throw new IllegalArgumentException(s"${defn.name}: no tag '$name'"))
    readLogical(Some(v))
  }

  /** Live branch names (refs with an un-published commit log). */
  def branches: Seq[String] = {
    val fs = Option(new File(refsDir).listFiles()).getOrElse(Array.empty)
    fs.filter(_.getName.matches("branch-.*\\.json")).map { f =>
      mapper.readValue(f, classOf[Map[String, Any]])("name").toString
    }.toSeq.sorted
  }

  /** Fork a branch at the current snapshot — the WRITE leg of Iceberg's
    * write-audit-publish: a producer stages commits on the branch (any
    * table op — the returned view is a full [[GraftTable]] over the
    * SAME data dir with its own commit log), auditors query the branch,
    * and [[fastForward]] publishes atomically or [[dropBranch]]
    * abandons it with main never having seen a byte. The fork copies
    * main's commit JSONS only (metadata — no data movement), keeping
    * the full log so time travel and changelog reads work on the
    * branch.
    */
  def createBranch(name: String): GraftTable = {
    requireMain("createBranch")
    checkRefName(name)
    require(!Files.exists(branchMarkPath(name)), s"${defn.name}: branch '$name' exists")
    require(!Files.exists(tagPath(name)), s"${defn.name}: '$name' is a tag")
    val cs = commits
    val fork = cs.lastOption.fold(0)(_.version)
    Files.createDirectories(branchDir(name))
    cs.foreach { c =>
      Files.copy(commitPath(c.version),
        branchDir(name).resolve(s"commit-${c.version}.json"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    Files.createDirectories(Paths.get(refsDir))
    val tmp = Paths.get(s"$refsDir/.tmp-branch-$name.json")
    Files.writeString(tmp,
      mapper.writeValueAsString(Map("name" -> name, "forkVersion" -> fork)))
    Files.move(tmp, branchMarkPath(name), StandardCopyOption.ATOMIC_MOVE)
    branchView(name)
  }

  /** Open an existing branch as a writable table view. */
  def branchView(name: String): GraftTable = {
    requireMain("branchView")
    require(Files.exists(branchMarkPath(name)), s"${defn.name}: no branch '$name'")
    new GraftTable(spark, defn, root, Some(name))
  }

  private def branchForkVersion(name: String): Int =
    mapper.readValue(branchMarkPath(name).toFile, classOf[Map[String, Any]])(
      "forkVersion").asInstanceOf[Number].intValue

  /** PUBLISH: fast-forward main to the branch head (Iceberg's
    * `fast_forward` procedure / WAP publish). Valid while main still
    * sits at the fork version — a diverged main refuses (the branch
    * must be re-staged), never merges. Publication moves the branch's
    * post-fork commit jsons onto main OLDEST FIRST, so a crash
    * mid-publish leaves main on a valid contiguous prefix of the branch
    * — every intermediate state is a readable table — and a RETRY
    * RESUMES the move rather than refusing: a main head past the fork
    * is recognized as a partial publish exactly when the branch's
    * remaining staged jsons pick up contiguously at main's head + 1
    * (a genuinely diverged main still holds the branch's FIRST staged
    * version in both logs, so its remaining set starts at fork+1 ≤
    * head and refuses). Without the resume, the documented recovery
    * (dropBranch) would delete the not-yet-moved staged suffix and
    * orphan its data files. Returns the number of commits published
    * by THIS call.
    */
  def fastForward(name: String): Int = {
    requireMain("fastForward")
    val fork = branchForkVersion(name)
    val b = branchView(name)
    val pending = b.commits.filter(_.version > fork).sortBy(_.version)
    val mainV = currentVersion
    if (mainV != fork) {
      // drained: every staged json already lives on main and none
      // remain on the branch — either a prior publish crashed between
      // its last staged-commit move and the dropBranch, or the branch
      // never staged anything while main advanced. In both shapes the
      // only remaining work IS the dropBranch: finish it rather than
      // refuse (a refusal here forced a manual dropBranch per the old
      // error text).
      if (mainV > fork && pending.isEmpty) { dropBranch(name); return 0 }
      val resumable = mainV > fork &&
        pending.head.version == mainV + 1 &&
        ((fork + 1) to mainV).forall(v => Files.exists(commitPath(v)))
      require(resumable,
        s"${defn.name}: main advanced past the '$name' fork " +
          s"(fork v$fork, main v$mainV) and the branch's staged commits " +
          s"are not a contiguous continuation — cannot fast-forward; " +
          "drop the branch and re-stage")
    }
    pending.foreach { c =>
      // publish each staged json with the SAME version CAS ordinary
      // commits use (link fails if the slot is taken) — a concurrent
      // main writer claiming the version mid-publish aborts loudly with
      // main left on a valid contiguous prefix of the branch, instead
      // of being silently clobbered by a replacing move
      val src = branchDir(name).resolve(s"commit-${c.version}.json")
      try { Files.createLink(commitPath(c.version), src); Files.delete(src) }
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new CommitConflictException(
            s"${defn.name}: a concurrent writer committed v${c.version} to main " +
              s"mid-publish of branch '$name' — published up to v${c.version - 1}; " +
              "the branch retains the rest (drop and re-stage it)")
      }
    }
    dropBranch(name)
    pending.size
  }

  /** Abandon a branch: its staged commits vanish, main never changes;
    * the branch's data files become unreferenced and [[removeOrphans]]
    * reclaims them on the normal maintenance cadence.
    */
  def dropBranch(name: String): Unit = {
    requireMain("dropBranch")
    require(Files.deleteIfExists(branchMarkPath(name)), s"${defn.name}: no branch '$name'")
    val d = branchDir(name).toFile
    Option(d.listFiles()).getOrElse(Array.empty).foreach(_.delete())
    d.delete()
  }

  /** M8a — expire snapshots older than `olderThanMs`, always keeping the
    * latest (reference: expire_snapshots(retention_threshold => '7d')).
    * Every snapshot is self-contained — its manifest entries carry each
    * file's sequence number, which the merge-on-read latest-wins order
    * and stored-name resolution read — so no read of a surviving
    * snapshot depends on an expired one (Iceberg v2 keeps data sequence
    * numbers in its manifest entries for the same reason).
    */
  def expireSnapshots(olderThanMs: Long): Int = {
    requireMain("expireSnapshots")
    val cutoff = System.currentTimeMillis() - olderThanMs
    // tagged snapshots are retention-exempt until the tag is dropped
    val tagged = tags.values.toSet
    val expired = commits.dropRight(1)
      .filter(c => c.tsMs < cutoff && !tagged.contains(c.version))
    expired.foreach(c => Files.deleteIfExists(commitPath(c.version)))
    expired.size
  }

  /** M8b — delete data files referenced by no remaining snapshot.
    * Delete-record files of surviving change-tracked commits are
    * referenced too: they are not live data, but they ARE the commit's
    * changelog payload and must survive exactly as long as its json.
    *
    * `minAgeMs` is the CONCURRENCY guard (Iceberg's `older_than`
    * retention, which exists for exactly this): a racing writer's
    * data/manifest files sit unreferenced between its staging move and
    * its publish CAS, so a maintenance pass sharing the table must
    * only reclaim orphans older than any plausible write duration —
    * the reference's scripts pass 7d. The default 0 is no age gate (a
    * file stamped in the sweep's own millisecond goes too), only safe
    * when the caller KNOWS no write is in flight (single-threaded
    * tests, oracle rows).
    */
  def removeOrphans(minAgeMs: Long = 0L): Int = {
    requireMain("removeOrphans")
    val ageCutoff = System.currentTimeMillis() - minAgeMs
    def oldEnough(p: java.nio.file.Path): Boolean =
      minAgeMs <= 0 ||
        (try Files.getLastModifiedTime(p).toMillis < ageCutoff
        catch { case _: Exception => false }) // vanished mid-scan: not ours to sweep
    // live BRANCH snapshots reference files main doesn't know yet —
    // those are the branch's staged payload, not orphans
    def refsOf(c: CommitMeta): Seq[String] =
      c.files ++ c.deleteFiles ++ c.morDeleteFiles.keys ++
        c.posDeleteFiles.keys
    val logs = commits ++ branches.flatMap(branchView(_).commits)
    val referenced = logs.flatMap(refsOf).toSet
    val orphans = (listDataFiles() -- referenced)
      .filter(f => oldEnough(Paths.get(s"$dataDir/$f")))
    orphans.foreach(f => Files.deleteIfExists(Paths.get(s"$dataDir/$f")))
    // the manifest leg: chunks referenced by no surviving commit json
    // (expired snapshots, dropped branches) go with the data orphans —
    // not counted in the return value, which stays "data files removed".
    // Same age gate: a racing writer's fresh chunks are unreferenced
    // until its publish lands
    manifestStore.sweep(logs.flatMap(_.manifests).toSet, minAgeMs)
    // staging remnants: under concurrent writers a fresh staging dir
    // may be an IN-FLIGHT write racing this maintenance pass — only
    // age-gated remnants (a crash, by definition: a live write drains
    // its staging within its own runtime) are reclaimed
    val stagingCutoff = System.currentTimeMillis() -
      math.max(minAgeMs, GraftTable.StagingSweepAgeMs)
    Option(new File(s"$tableDir/_staging").listFiles()).getOrElse(Array.empty)
      .filter(_.lastModified() < stagingCutoff)
      .foreach(d => graft.FsUtil.deleteRecursively(d.toPath))
    // prune now-empty partition dirs
    def sweep(dir: File): Unit = {
      Option(dir.listFiles()).getOrElse(Array.empty).filter(_.isDirectory).foreach(sweep)
      if (dir.getPath != dataDir && Option(dir.listFiles()).exists(_.isEmpty)) dir.delete()
    }
    sweep(new File(dataDir))
    orphans.size
  }

  /** Incremental changelog scan — the Iceberg incremental-append /
    * changelog-scan analog (the reference's iceberg/tables YAMLs are
    * consumed downstream exactly this way by its materialization
    * layer): every LOGICAL change committed in `(fromVersion,
    * toVersion]`, as the logical rows plus `_change_version` (the
    * commit that introduced the row) and `_change_type`: `insert` for
    * appends and for a change-tracked repair's replacement rows,
    * `upsert` for upserts (merge-on-read, or change-tracked
    * copy-on-write — the consumer applies versions in order,
    * latest-wins per key, the same contract [[readLogical]] resolves),
    * and `delete` for a change-tracked repair's removed rows (row-level
    * multiset semantics: each delete row cancels one earlier instance,
    * Iceberg's changelog-scan DELETE rows).
    *
    * Cost shape: only the range's commit jsons are read, and each
    * commit's delta from exactly the files that commit ADDED (its
    * entries and tombstones carry its version), so a consumer tailing
    * the table pays O(new data) per poll — never O(table) or O(log);
    * only the delete legs read a predecessor. Pure layout rewrites (`compact`, `zorder`)
    * change nothing logical and are skipped. Blind rewrites
    * (`overwrite`, `replace`) THROW: their file delta is the merged
    * result, not the change set, and emitting it would be
    * silently wrong — the same reason Iceberg's incremental append
    * scan refuses non-append snapshots. Changelog consumers pair with
    * merge-on-read tables, where every commit's delta IS its batch.
    */
  def readChanges(fromVersion: Int, toVersion: Int): DataFrame =
    readChanges(commitsIn(fromVersion, toVersion).fold(throw _, identity), toVersion)

  /** [[readChanges]] over `range`, the commits [[commitsIn]] read for
    * `(from, toVersion]`: a caller that inspects those commits first
    * (CdcAggConsumer's op check) parses each json once.
    */
  private[graft] def readChanges(range: Seq[CommitMeta], toVersion: Int): DataFrame = {
    val deltas = fileDeltas(range).fold(throw _, identity)
    // one schema for the whole range — the range END's schema, the same
    // contract as Iceberg's changelog scan (pre-evolution change rows
    // null-fill later-added columns) — and the END's rename log: a
    // leg's files were written by commit c and store version-c names
    val end = deltas.lastOption.map(_._1).getOrElse(snapshot(Some(toVersion).filter(_ > 0)))
    val logical = schemaOf(end)
    val logicalCols = logical.fieldNames.map(org.apache.spark.sql.functions.col)
    val endLog = renameLogOf(end)
    def leg(c: CommitMeta, files: Seq[String], changeType: String) =
      if (files.isEmpty) None
      else {
        // every leg's files were WRITTEN by commit c, under c's spec
        // (covers replace-cdc delete files, which live outside `files`
        // and so outside the per-file provenance map)
        val stored = storedNamesAt(logical, c.version, endLog)
          .filter { case (cur, s) => s != Some(cur) }
        Some(readStoredAs(files, logical, specOf(c), stored)
          .withColumn("_change_version", org.apache.spark.sql.functions.lit(c.version))
          .withColumn("_change_type", org.apache.spark.sql.functions.lit(changeType)))
      }
    val legs = deltas.flatMap { case (c, added, deleted) =>
      if (c.op == "delete-mor") {
        // an equality delete names KEYS, not rows — the deleted ROWS are
        // the predecessor snapshot's matches, materialized here by one
        // semi-join (Iceberg's changelog scan pays the same read to turn
        // equality-delete files into DELETE rows). This is the one
        // changelog leg that is O(predecessor snapshot), not O(delta) —
        // the price of O(keys) deletes on the write side.
        if (deleted.isEmpty) Nil
        else {
          val keySchema = StructType(logical.fields.filter(f => defn.keys.contains(f.name)))
          val keys = spark.read.schema(keySchema)
            .parquet(deleted.map(f => s"$dataDir/$f"): _*)
          val prior = logical.fields.foldLeft(readLogical(Some(c.version - 1)))(
            (d, f) => if (d.columns.contains(f.name)) d
            else d.withColumn(f.name, org.apache.spark.sql.functions.lit(null).cast(f.dataType)))
          Some(prior.join(keys, defn.keys, "left_semi").select(logicalCols: _*)
            .withColumn("_change_version", org.apache.spark.sql.functions.lit(c.version))
            .withColumn("_change_type", org.apache.spark.sql.functions.lit("delete")))
        }
      } else if (c.op == "delete-pos") {
        // a position delete names (file, pos) tuples — the deleted ROWS
        // are read back from exactly the referenced data files via one
        // semi-join on the provenance columns: O(referenced files), the
        // row-level analog of the delete-mor leg's predecessor read.
        if (deleted.isEmpty) Nil
        else {
          val pairs = posPairs(deleted)
          val refFiles = pairs.select("__file").distinct()
            .collect().map(_.getString(0)).toSeq.sorted
          val predecessor = snapshot(Some(c.version - 1))
          // specs resolve via the predecessor (the referenced files'
          // writing epoch) but renames via endLog — this leg projects
          // the range-END schema like every other leg, so a rename
          // landing between the delete-pos commit and the range end
          // must still map the files' stored names onto it
          val rows = readFilesLogicalSpecAware(refFiles, logical, predecessor,
            withPos = true, renameLog = Some(endLog))
          Some(rows.join(pairs, Seq("__file", "__pos"), "left_semi")
            .select(logicalCols: _*)
            .withColumn("_change_version", org.apache.spark.sql.functions.lit(c.version))
            .withColumn("_change_type", org.apache.spark.sql.functions.lit("delete")))
        }
      } else {
        val addType = c.op match {
          case "append" | "replace-cdc" => "insert"
          case _ => "upsert"
        }
        leg(c, added, addType) ++ leg(c, deleted, "delete")
      }
    }
    if (legs.isEmpty) {
      val schema = StructType(logical.fields ++ Seq(
        StructField("_change_version", IntegerType, nullable = false),
        StructField("_change_type", StringType, nullable = false)))
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    } else legs.reduce(_.unionByName(_))
  }

  /** The single owner of changelog FILE-DELTA semantics — which files
    * carry each commit's logical change in `(fromVersion, toVersion]`,
    * or a refusal. Both consumers sit on this one path (VERDICT r12
    * #7): [[readChanges]] throws the refusal; the materializer's
    * append detection (Materializer.sourceAppendsSince) falls back to
    * signature detection, so the two can never drift on gap handling.
    *
    * Each commit names its own change, so a delta reads that commit's
    * json alone ([[commitsIn]]). Per-op `(commit, addedFiles,
    * deletedFiles)`: `append`/`upsert-mor` added the files whose
    * manifest entries carry its version as sequence number; a
    * `delete-mor`/`delete-pos` added the tombstones stamped with its
    * version; a copy-on-write `upsert` names its batch (`changeFiles`
    * — the survivors' rewritten files are NOT changes); a
    * change-tracked repair (`replace-cdc`) names its replacement AND
    * delete files; layout-only rewrites (`compact`, `zorder`) give an
    * empty delta. Everything else refuses: a blind rewrite's file delta
    * is the merged result, not the change set.
    *
    * Gap rule: every version in the range must still be in the log —
    * an expired commit would otherwise vanish from the changelog
    * silently. Refuse; the consumer re-syncs from a full snapshot read.
    */
  private[graft] def fileDeltasSince(fromVersion: Int, toVersion: Int)
      : Either[RuntimeException, Seq[(CommitMeta, Seq[String], Seq[String])]] =
    commitsIn(fromVersion, toVersion).flatMap(fileDeltas)

  /** The per-commit deltas of `range`, commits read by [[commitsIn]]. */
  private def fileDeltas(range: Seq[CommitMeta])
      : Either[RuntimeException, Seq[(CommitMeta, Seq[String], Seq[String])]] = {
    val deltas = range.map { c =>
      def stamped(tombs: Map[String, Int]) = tombs.filter(_._2 == c.version).keys.toSeq.sorted
      c.op match {
        case "append" | "upsert-mor" =>
          (c, c.manifests.flatMap(manifestStore.read).filter(_.v == c.version).map(_.p),
            Nil: Seq[String])
        case "upsert" =>
          (c, c.changeFiles, Nil: Seq[String])
        case "replace-cdc" =>
          (c, c.changeFiles, c.deleteFiles)
        // the tombstone file(s) THIS commit added; readChanges turns
        // them into full delete rows via the predecessor snapshot
        case "delete-mor" =>
          (c, Nil: Seq[String], stamped(c.morDeleteFiles))
        case "delete-pos" =>
          (c, Nil: Seq[String], stamped(c.posDeleteFiles))
        case "compact" | "zorder" | "evolve-schema" | "evolve-partition" =>
          // layout-/metadata-only: no logical rows changed
          (c, Nil: Seq[String], Nil: Seq[String])
        case other => return Left(new IllegalArgumentException(
          s"${defn.name}: commit v${c.version} is '$other' — a rewrite has no " +
            "derivable change set; changelog consumers need append/merge-on-read/" +
            "change-tracked upsert or replace commits (see readChanges scaladoc)"))
      }
    }
    Right(deltas)
  }

  /** S10 — the `$snapshots` metadata table. */
  def snapshots: DataFrame = {
    val schema = StructType(Seq(
      StructField("version", IntegerType, nullable = false),
      StructField("committed_at", TimestampType, nullable = false),
      StructField("operation", StringType, nullable = false),
      StructField("row_count", LongType, nullable = false),
      StructField("n_files", IntegerType, nullable = false)))
    val rows = commits.map(c => Row(
      c.version, new java.sql.Timestamp(c.tsMs), c.op, c.rowCount, c.files.size))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The CURRENT snapshot's manifest entries, with the chunk each lives
    * in — the raw feed for the `$manifests` metadata table and the
    * s27 oracle (whose row counts and column bounds must reconstruct
    * the source aggregate without touching a data file).
    */
  def manifestEntries: Seq[(String, ManifestEntry)] =
    head.manifests.flatMap(n => manifestStore.read(n).map(n -> _))

  /** Per-chunk stats of the current snapshot, Iceberg-`$manifests`
    * shaped: (path, length bytes, added-at version, data file count,
    * record count). Added-at = the FIRST commit referencing the chunk
    * (chunks are immutable, so that is the commit that wrote it) —
    * derived from the SURVIVING log, so after the writing commit
    * expires, added-at reports the oldest survivor that references the
    * chunk instead (documented drift; persisting the writer version in
    * the chunk would pin it exactly, but the column is informational —
    * nothing resolves data from it — and the drift direction is always
    * "later version", never a dangling one).
    */
  def manifestInfo: Seq[(String, Long, Int, Int, Long)] = {
    val cs = commits
    cs.lastOption.fold(Seq.empty[String])(_.manifests).map { n =>
      val entries = manifestStore.read(n)
      val addedAt = cs.find(_.manifests.contains(n)).map(_.version).getOrElse(0)
      (n, manifestStore.sizeBytes(n), addedAt, entries.size, entries.map(_.r).sum)
    }
  }
}

object GraftTable {
  /** Mapper for the table's json files. The table layer reads exactly
    * one on-disk format, so a commit or chunk json that lacks a field,
    * or holds null where a value is required, fails the read instead of
    * defaulting: a commit missing `sinkBatches` read as "this sink
    * committed nothing" would make an exactly-once sink re-apply
    * batches it already wrote.
    */
  private[tables] val mapper: ObjectMapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES,
      DeserializationFeature.FAIL_ON_NULL_CREATOR_PROPERTIES)

  /** Parse `bytes`, the json at `file` under table `table`'s dir, as a
    * `cls`; a json of any other shape throws, naming table and file.
    */
  private[tables] def readJson[T](table: String, file: String, bytes: Array[Byte],
      cls: Class[T]): T =
    try mapper.readValue(bytes, cls)
    catch {
      case e: com.fasterxml.jackson.core.JsonProcessingException =>
        throw new IllegalStateException(
          s"$table: $file is not in this table format — ${e.getOriginalMessage}", e)
    }

  /** Row bound for the driver-local write fast path (writeFiles):
    * enough for any bookkeeping/marker commit, far below anything a
    * distributed write exists for. One file either way — a 10k-row
    * LocalRelation is well under a single row group.
    */
  private[tables] val LocalWriteMaxRows = 10000

  /** Max distinct key tuples a repair pass will broadcast for its
    * delete/re-insert joins. 1M tuples of (timestamp, long-ish key)
    * ≈ tens of MB — comfortably under executor broadcast budgets on a
    * real cluster; beyond it the joins fall back to shuffled form.
    */
  val BroadcastKeyLimit: Long = 1000000L

  /** Max total on-disk bytes of pending position-delete files a logical
    * read will broadcast for its anti-join. (file, pos) pairs are ~tens
    * of bytes each, so 32 MB covers ~hundreds of millions of deleted
    * rows at snappy compression — past that the read degrades to a
    * shuffled anti-join (and compaction should have run long before).
    */
  val PosDeleteBroadcastBytes: Long = 32L * 1024 * 1024

  /** Count of file-stats harvests: one per file the table writer
    * writes (its rows and bounds come from the footer it just wrote),
    * none on any read. Reads resolve bounds from the manifest entries,
    * so tests pin that pruned reads and watermark lookups leave this
    * untouched.
    */
  val footerProbeCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Lost-CAS retry count across all tables (diagnostic — pipebench
    * reports it per run as `tables.cas_retries`).
    */
  val commitRetryCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Bounded optimistic-commit retries before giving up loudly. Each
    * retry re-reads the head and re-validates — 20 lost CAS races in a
    * row means pathological contention the caller should see.
    */
  val MaxCommitRetries: Int = 20

  /** Age a crashed write's staging remnant must reach before the
    * maintenance sweep reclaims it. Under concurrent writers a staging
    * dir may belong to an IN-FLIGHT commit; one untouched for an hour
    * can only be a crash (a live write moves its files out within the
    * write's own runtime).
    */
  val StagingSweepAgeMs: Long = 60L * 60 * 1000
}
