package graft.tables

import java.nio.file.{Files, Paths, StandardCopyOption}

/** One data file's metadata inside a manifest chunk — the engine's
  * analog of an Iceberg manifest entry (reference tables are Iceberg
  * format-version 2, whose manifests record exactly this per file:
  * path, record count, partition data, and per-column lower/upper
  * bounds captured from write metrics).
  *
  *  - `p` — path relative to the table's data dir;
  *  - `r` — row count (parquet footer `record_count`);
  *  - `s` — partition-spec DDL the file was written under (None =
  *    the table's declared spec, the never-evolved common case);
  *  - `b` — min/max of every INT64 column with usable footer
  *    statistics, under the WRITE-TIME (stored) column name. Captured
  *    once at commit time from the same footer open that counts rows,
  *    so range pruning and watermark reads resolve from the metadata
  *    log without ever re-opening data-file footers. A column all-null
  *    in the file records the empty range `(Long.MaxValue,
  *    Long.MinValue)` (intersects nothing); a column with unusable
  *    stats is simply absent;
  *  - `v` — the version of the commit that first added the file:
  *    Iceberg's data sequence number. Carried with the entry for as
  *    long as the file stays live, so merge-on-read latest-wins order
  *    and rename epochs resolve from the one snapshot being read.
  */
final case class ManifestEntry(p: String, r: Long, s: Option[String],
    b: Seq[ColumnBound], v: Int)

/** One column's `[lo, hi]` inside a manifest entry. A dedicated case
  * class (not `Map[String, Seq[Long]]`) so Jackson deserializes the
  * bounds as primitive Longs — container-typed numbers come back as
  * Integers when they happen to fit, and a boxed-Integer bound would
  * ClassCastException on first use from a fresh table handle.
  */
final case class ColumnBound(c: String, lo: Long, hi: Long)

/** On-disk shape of a manifest chunk file (a wrapper object, not a bare
  * array, so the format can grow fields without breaking old chunks).
  */
final case class ManifestChunk(entries: Seq[ManifestEntry])

/** Immutable manifest chunk files under `<table>/_manifests` — the
  * scale half of the commit protocol. A commit json stores only chunk
  * NAMES (plus its O(delta) change metadata); the live file list, the
  * per-file row counts/specs, and the per-file column bounds live in
  * the chunks. Chunks are written once (tmp + atomic rename, UUID
  * names) and never modified, so:
  *
  *  - an append-shaped commit writes ONE new chunk for its added files
  *    and carries every prior chunk by reference — commit metadata
  *    cost is O(new files) no matter how many live files exist;
  *  - a commit that removes files rewrites ONLY the chunks containing
  *    removed entries (survivors spill into the commit's new chunk);
  *  - chunk parses cache per table handle (immutability makes the
  *    cache trivially sound), so snapshot resolution is in-memory
  *    work after the first read.
  *
  * This is Iceberg's manifest/manifest-list design reduced to a
  * single-writer log: the commit json plays the manifest list, chunk
  * files play the manifests.
  */
final class ManifestStore(table: String, dir: String) {
  Files.createDirectories(Paths.get(dir))

  private val cache =
    scala.collection.concurrent.TrieMap[String, Seq[ManifestEntry]]()

  def read(name: String): Seq[ManifestEntry] =
    cache.getOrElseUpdate(name, GraftTable.readJson(table, s"_manifests/$name",
      Files.readAllBytes(Paths.get(s"$dir/$name")), classOf[ManifestChunk]).entries)

  /** Write `entries` as a new immutable chunk; returns its name. */
  def write(entries: Seq[ManifestEntry]): String = {
    val name = s"manifest-${java.util.UUID.randomUUID()}.json"
    val tmp = Paths.get(s"$dir/.tmp-$name")
    Files.writeString(tmp, GraftTable.mapper.writeValueAsString(ManifestChunk(entries)))
    Files.move(tmp, Paths.get(s"$dir/$name"), StandardCopyOption.ATOMIC_MOVE)
    cache.put(name, entries)
    name
  }

  def sizeBytes(name: String): Long = Files.size(Paths.get(s"$dir/$name"))

  /** Entries currently held by the parse cache (test/diagnostic). */
  def cachedChunkCount: Int = cache.size

  /** Bound the parse cache on a long-lived handle: once it grows past
    * `floor` entries, drop every cached chunk not in `keep` (the
    * snapshot the handle just committed or resolved). Chunks are
    * immutable so eviction is purely a perf decision — a time-travel
    * read of an evicted chunk re-parses from disk. Without this, a
    * poll/cron writer on a high-churn table accumulates one parsed
    * chunk (~1024 entries) per rewritten chunk for the life of the
    * handle; the floor keeps steady-state churn (latest refs are
    * bounded by the fold rule) from thrashing the cache.
    */
  def prune(keep: Set[String], floor: Int = 256): Unit =
    if (cache.size > floor)
      cache.keysIterator.filterNot(keep).toSeq.foreach(cache.remove)

  /** Delete chunk files referenced by NO surviving commit (main or any
    * branch) — the manifest leg of orphan cleanup. Returns the count
    * removed. Dotfiles (in-flight tmp writes) are never touched, and
    * `minAgeMs` guards a CONCURRENT writer's freshly written chunks
    * (unreferenced until its publish CAS lands) the same way the data
    * sweep does; 0 is no age gate.
    */
  def sweep(referenced: Set[String], minAgeMs: Long = 0L): Int = {
    val cutoff = System.currentTimeMillis() - minAgeMs
    val files = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("manifest-") && !referenced(f.getName) &&
        (minAgeMs <= 0 || f.lastModified() < cutoff))
    files.foreach { f => Files.deleteIfExists(f.toPath); cache.remove(f.getName) }
    files.length
  }
}
