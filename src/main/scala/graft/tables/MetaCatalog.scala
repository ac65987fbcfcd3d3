package graft.tables

import java.nio.file.{Files, Paths}
import java.time.Instant
import java.util

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCapability, TableChange, TableCatalog => V2TableCatalog}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Read-only Spark V2 catalog serving Iceberg-style METADATA tables
  * (`<table>$snapshots`) from GraftTable commit logs.
  *
  * Why it exists: `query-examples.sh` #8 reads
  * `iceberg.db."bid_requests$snapshots"` — a catalog-qualified,
  * ANSI-double-quoted, dollar-suffixed identifier. Registering this
  * class as the `iceberg` catalog (GraftSession does) makes that
  * LITERAL text resolve in `spark.sql` (with the standard
  * `spark.sql.ansi.doubleQuotedIdentifiers` conf for the quoting
  * style), closing the one example the verbatim SQL surface could not
  * replay. The schema mirrors Iceberg's snapshots metadata table:
  * (snapshot_id, parent_id, committed_at, operation, summary).
  *
  * Scan shape: commit logs are driver-small by construction (one json
  * per commit), so the scan is a [[LocalScan]] — no executor tasks, no
  * files read; exactly how Spark serves its own metadata tables.
  */
final class MetaCatalog extends V2TableCatalog {

  private var catalogName: String = "iceberg"
  private var warehouse: String = MetaCatalog.DefaultWarehouse

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.getOrDefault("warehouse", MetaCatalog.DefaultWarehouse)
  }

  override def name(): String = catalogName

  override def listTables(namespace: Array[String]): Array[Identifier] = Array.empty

  override def loadTable(ident: Identifier): Table = {
    def refuse() =
      throw new NoSuchTableException((ident.namespace() :+ ident.name()).toSeq)
    val dollar = ident.name().lastIndexOf('$')
    if (!ident.namespace().sameElements(Array("db")) || dollar < 1) refuse()
    val (base, meta) = (ident.name().substring(0, dollar),
      ident.name().substring(dollar + 1))
    if (!Files.isDirectory(Paths.get(s"$warehouse/$base/_commits"))) refuse()
    val (schema, rowsOf) = MetaCatalog.Tables.getOrElse(meta, refuse())
    // a metadata read needs no schema
    new MetaCatalog.MetaTable(ident.name(), schema, () =>
      rowsOf(new GraftTable(SparkSession.active, TableDef(base, StructType(Nil)), warehouse)))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException("MetaCatalog is read-only")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("MetaCatalog is read-only")

  override def dropTable(ident: Identifier): Boolean = false

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("MetaCatalog is read-only")
}

object MetaCatalog {

  /** Where the verbatim-SQL surface materializes its lakehouse tables
    * (SqlSurfaceOps.ensureLakehouse); overridable per catalog instance
    * via `spark.sql.catalog.<name>.warehouse`.
    */
  val DefaultWarehouse: String = s"${sys.props("java.io.tmpdir")}/graft_sql_surface_wh"

  /** One metadata table. `read` gives its rows as plain Scala values —
    * strings, numbers, `Instant`s, `ListMap`s (ordered maps) and `Seq`s,
    * null where the schema allows it — and Spark's own converter encodes
    * them against `tableSchema`. The rows are read per scan, so every
    * query sees the log as it is then.
    */
  private final class MetaTable(tableName: String, tableSchema: StructType,
      read: () => Seq[Row]) extends Table with SupportsRead {
    override def name(): String = tableName
    override def schema(): StructType = tableSchema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () =>
      new LocalScan {
        override def readSchema(): StructType = tableSchema
        override def rows(): Array[InternalRow] = {
          val toCatalyst = CatalystTypeConverters.createToCatalystConverter(tableSchema)
          read().map(toCatalyst(_).asInstanceOf[InternalRow]).toArray
        }
      }
  }

  /** A snapshot's parent: the commit log is linear, so it is the
    * previous version; version 1 has none.
    */
  private def parentId(c: CommitMeta): Any =
    if (c.version > 1) (c.version - 1).toLong else null

  /** Each served `$suffix`: its schema and its rows from a handle. */
  private val Tables: Map[String, (StructType, GraftTable => Seq[Row])] = Map(
    "snapshots" -> (StructType(Seq(
      StructField("snapshot_id", LongType, nullable = false),
      StructField("parent_id", LongType, nullable = true),
      StructField("committed_at", TimestampType, nullable = false),
      StructField("operation", StringType, nullable = false),
      StructField("summary", MapType(StringType, StringType), nullable = false))),
      t => {
        val commits = t.commits
        val byVersion = commits.map(c => c.version -> c).toMap
        commits.map { c =>
          // Iceberg's `added-records` is the PER-SNAPSHOT delta; commit
          // rowCount is the cumulative live total (served separately as
          // total-records, the snapshots table's row_count analog).
          // version 1 has a genuinely-empty predecessor; for version>1 a
          // MISSING predecessor json means the parent was expired — the
          // delta is then unknowable and the key is OMITTED (mirroring
          // readChanges' changelog-gap refusal) rather than silently
          // over-reported against an empty file set.
          val prevFiles: Option[Set[String]] =
            if (c.version == 1) Some(Set.empty[String])
            else byVersion.get(c.version - 1).map(_.files.toSet)
          val addedRecords = prevFiles.map { pf =>
            c.fileRows.filter { case (f, _) => !pf.contains(f) }.values.sum
          }
          val summary = ListMap.from(
            addedRecords.map(a => "added-records" -> a.toString).toSeq ++ Seq(
              "total-records" -> c.rowCount.toString,
              "total-data-files" -> c.files.size.toString))
          Row(c.version.toLong, parentId(c), Instant.ofEpochMilli(c.tsMs), c.op, summary)
        }
      }),

    /* Iceberg's `$history` metadata table: when each snapshot became
     * current. The commit log is linear (the version CAS serializes
     * concurrent writers into one history), so every surviving snapshot
     * is an ancestor of the current one.
     */
    "history" -> (StructType(Seq(
      StructField("made_current_at", TimestampType, nullable = false),
      StructField("snapshot_id", LongType, nullable = false),
      StructField("parent_id", LongType, nullable = true),
      StructField("is_current_ancestor", BooleanType, nullable = false))),
      t => t.commits.map(c =>
        Row(Instant.ofEpochMilli(c.tsMs), c.version.toLong, parentId(c), true))),

    /* Iceberg's `$refs` metadata table (core columns): every named ref —
     * `main`, tags, and live audit branches — with the snapshot it
     * points to (a branch points at its staged HEAD, exactly what an
     * auditor queries before a fast-forward publish).
     */
    "refs" -> (StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("type", StringType, nullable = false),
      StructField("snapshot_id", LongType, nullable = false))),
      t => Row("main", "BRANCH", t.currentVersion.toLong) +:
        (t.tags.toSeq.sortBy(_._1).map { case (n, v) => Row(n, "TAG", v.toLong) } ++
          t.branches.map(b => Row(b, "BRANCH", t.branchView(b).currentVersion.toLong)))),

    /* Iceberg's `$partitions` metadata table (core columns): the CURRENT
     * snapshot's per-partition record/file counts, computed entirely
     * from commit metadata — partition values are read from the
     * path-embedded `k=v` directory segments and row counts from the
     * carried per-file map, so the scan opens zero data files. After a
     * partition-spec evolution, rows from different layout generations
     * simply render different `partition` strings (Iceberg surfaces the
     * same via spec ids). Unpartitioned files render as the empty
     * string.
     */
    "partitions" -> (StructType(Seq(
      StructField("partition", StringType, nullable = false),
      StructField("record_count", LongType, nullable = false),
      StructField("file_count", IntegerType, nullable = false))),
      t => {
        val cur = t.head
        def partOf(relPath: String): String =
          relPath.split('/').dropRight(1).filter(_.contains("=")).mkString("/")
        cur.files.groupBy(partOf).toSeq.sortBy(_._1).map { case (p, fs) =>
          Row(p, fs.map(f => cur.fileRows.getOrElse(f, 0L)).sum, fs.size)
        }
      }),

    /* Iceberg's `$files` metadata table (core columns): the CURRENT
     * snapshot's data files with per-file row counts (the commit log's
     * manifest `record_count` analog) and on-disk sizes, plus any
     * PENDING delete files under Iceberg's content enum — 1 = position
     * deletes, 2 = equality deletes — so an operator can see exactly the
     * tombstone debt the next compaction will materialize. File lists
     * are small enough for one JVM by the same construction as the
     * commit log, so the scan stays local; at manifest scale this
     * becomes a distributed scan over manifest files, which is what
     * Iceberg itself does.
     */
    "files" -> (StructType(Seq(
      StructField("content", IntegerType, nullable = false),
      StructField("file_path", StringType, nullable = false),
      StructField("file_format", StringType, nullable = false),
      StructField("record_count", LongType, nullable = false),
      StructField("file_size_in_bytes", LongType, nullable = false))),
      t => {
        val cur = t.head
        // content per Iceberg's enum: 0 = data, 1 = position deletes,
        // 2 = equality deletes (the two pending-tombstone kinds)
        val entries = cur.files.map(f => (0, f)) ++
          cur.posDeleteFiles.keys.toSeq.sorted.map(f => (1, f)) ++
          cur.morDeleteFiles.keys.toSeq.sorted.map(f => (2, f))
        entries.map { case (content, f) =>
          val p = Paths.get(s"${t.dataPath}/$f")
          val size = try Files.size(p) catch { case _: Throwable => 0L }
          Row(content, p.toString, "PARQUET", cur.fileRows.getOrElse(f, 0L), size)
        }
      }),

    /* Iceberg's `$manifests` metadata table (core columns): the CURRENT
     * snapshot's manifest chunk files — path, on-disk length, the
     * snapshot that added the chunk (chunks are immutable, so first
     * reference = writer), data file count, and record count. This is
     * the operator's view of commit-metadata health: chunk count bounded
     * by the fold-smallest merge, per-chunk entry counts near the chunk
     * target, record counts summing to the snapshot's row count.
     */
    "manifests" -> (StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("length", LongType, nullable = false),
      StructField("added_snapshot_id", LongType, nullable = false),
      StructField("added_data_files_count", IntegerType, nullable = false),
      StructField("record_count", LongType, nullable = false))),
      t => t.manifestInfo.map { case (path, len, added, nFiles, recs) =>
        Row(path, len, added.toLong, nFiles, recs)
      }),

    /* Iceberg's `$entries` metadata table (flattened): one row per data
     * file per manifest chunk of the CURRENT snapshot, carrying the
     * write-time stats the planner actually uses — record count, the
     * partition spec the file was written under (null = the declared
     * spec), and the per-column INT64 `[min, max]` bounds range pruning
     * resolves from (`lower_bounds`/`upper_bounds` in Iceberg; one map
     * here since both ends are INT64). This is the observability window
     * into WHY a pruned read skipped a file.
     */
    "entries" -> (StructType(Seq(
      StructField("manifest_path", StringType, nullable = false),
      StructField("file_path", StringType, nullable = false),
      StructField("record_count", LongType, nullable = false),
      StructField("partition_spec", StringType, nullable = true),
      StructField("bounds", MapType(StringType, ArrayType(LongType)), nullable = true))),
      t => t.manifestEntries.map { case (chunk, e) =>
        Row(chunk, e.p, e.r, e.s.orNull,
          ListMap.from(e.b.map(cb => cb.c -> Seq(cb.lo, cb.hi))))
      }))
}
