package graft.tables

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCapability, TableChange, TableCatalog => V2TableCatalog}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

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
    if (!java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(s"$warehouse/$base/_commits"))) refuse()
    meta match {
      case "snapshots" => new MetaCatalog.SnapshotsTable(base, warehouse)
      case "history" => new MetaCatalog.HistoryTable(base, warehouse)
      case "files" => new MetaCatalog.FilesTable(base, warehouse)
      case "refs" => new MetaCatalog.RefsTable(base, warehouse)
      case "partitions" => new MetaCatalog.PartitionsTable(base, warehouse)
      case "manifests" => new MetaCatalog.ManifestsTable(base, warehouse)
      case "entries" => new MetaCatalog.EntriesTable(base, warehouse)
      case _ => refuse()
    }
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

  /** A handle for a metadata read, which needs no schema. */
  private def handle(base: String, warehouse: String): GraftTable =
    new GraftTable(SparkSession.active, TableDef(base, StructType(Nil)), warehouse)

  val SnapshotsSchema: StructType = StructType(Seq(
    StructField("snapshot_id", LongType, nullable = false),
    StructField("parent_id", LongType, nullable = true),
    StructField("committed_at", TimestampType, nullable = false),
    StructField("operation", StringType, nullable = false),
    StructField("summary", MapType(StringType, StringType), nullable = false)))

  private final class SnapshotsTable(base: String, warehouse: String)
      extends Table with SupportsRead {
    override def name(): String = s"$base$$snapshots"
    override def schema(): StructType = SnapshotsSchema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder {
        override def build(): Scan = new SnapshotsScan(base, warehouse)
      }
  }

  private final class SnapshotsScan(base: String, warehouse: String)
      extends Scan with LocalScan {
    override def readSchema(): StructType = SnapshotsSchema
    override def rows(): Array[InternalRow] = {
      val commits = handle(base, warehouse).commits
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
        val pairs =
          addedRecords.map(a => "added-records" -> a.toString).toSeq ++ Seq(
            "total-records" -> c.rowCount.toString,
            "total-data-files" -> c.files.size.toString)
        val keys = new GenericArrayData(
          pairs.map(p => UTF8String.fromString(p._1): Any).toArray)
        val vals = new GenericArrayData(
          pairs.map(p => UTF8String.fromString(p._2): Any).toArray)
        new GenericInternalRow(Array[Any](
          c.version.toLong,
          if (c.version > 1) java.lang.Long.valueOf((c.version - 1).toLong) else null,
          c.tsMs * 1000L,
          UTF8String.fromString(c.op),
          new ArrayBasedMapData(keys, vals))): InternalRow
      }.toArray
    }
  }

  /** Iceberg's `$history` metadata table: when each snapshot became
    * current. The commit log is linear (the version CAS serializes
    * concurrent writers into one history), so every surviving snapshot
    * is an ancestor of the current one.
    */
  val HistorySchema: StructType = StructType(Seq(
    StructField("made_current_at", TimestampType, nullable = false),
    StructField("snapshot_id", LongType, nullable = false),
    StructField("parent_id", LongType, nullable = true),
    StructField("is_current_ancestor", BooleanType, nullable = false)))

  private final class HistoryTable(base: String, warehouse: String)
      extends Table with SupportsRead {
    override def name(): String = s"$base$$history"
    override def schema(): StructType = HistorySchema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder {
        override def build(): Scan = new Scan with LocalScan {
          override def readSchema(): StructType = HistorySchema
          override def rows(): Array[InternalRow] = {
            handle(base, warehouse).commits.map { c =>
              new GenericInternalRow(Array[Any](
                c.tsMs * 1000L,
                c.version.toLong,
                if (c.version > 1) java.lang.Long.valueOf((c.version - 1).toLong)
                else null,
                true)): InternalRow
            }.toArray
          }
        }
      }
  }

  /** Iceberg's `$refs` metadata table (core columns): every named ref —
    * `main`, tags, and live audit branches — with the snapshot it
    * points to (a branch points at its staged HEAD, exactly what an
    * auditor queries before a fast-forward publish).
    */
  val RefsSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("snapshot_id", LongType, nullable = false)))

  private final class RefsTable(base: String, warehouse: String)
      extends Table with SupportsRead {
    override def name(): String = s"$base$$refs"
    override def schema(): StructType = RefsSchema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder {
        override def build(): Scan = new Scan with LocalScan {
          override def readSchema(): StructType = RefsSchema
          override def rows(): Array[InternalRow] = {
            val tbl = handle(base, warehouse)
            def row(n: String, ty: String, v: Long) =
              new GenericInternalRow(Array[Any](
                UTF8String.fromString(n), UTF8String.fromString(ty), v)): InternalRow
            val main = Seq(row("main", "BRANCH", tbl.currentVersion.toLong))
            val tags = tbl.tags.toSeq.sortBy(_._1)
              .map { case (n, v) => row(n, "TAG", v.toLong) }
            val branches = tbl.branches
              .map(b => row(b, "BRANCH", tbl.branchView(b).currentVersion.toLong))
            (main ++ tags ++ branches).toArray
          }
        }
      }
  }

  /** Iceberg's `$partitions` metadata table (core columns): the CURRENT
    * snapshot's per-partition record/file counts, computed entirely
    * from commit metadata — partition values are read from the
    * path-embedded `k=v` directory segments and row counts from the
    * carried per-file map, so the scan opens zero data files. After a
    * partition-spec evolution, rows from different layout generations
    * simply render different `partition` strings (Iceberg surfaces the
    * same via spec ids). Unpartitioned files render as the empty
    * string.
    */
  val PartitionsSchema: StructType = StructType(Seq(
    StructField("partition", StringType, nullable = false),
    StructField("record_count", LongType, nullable = false),
    StructField("file_count", IntegerType, nullable = false)))

  private final class PartitionsTable(base: String, warehouse: String)
      extends Table with SupportsRead {
    override def name(): String = s"$base$$partitions"
    override def schema(): StructType = PartitionsSchema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder {
        override def build(): Scan = new Scan with LocalScan {
          override def readSchema(): StructType = PartitionsSchema
          override def rows(): Array[InternalRow] = {
            val cur = handle(base, warehouse).head
            def partOf(relPath: String): String = {
              val segs = relPath.split('/').dropRight(1).filter(_.contains("="))
              segs.mkString("/")
            }
            cur.files.groupBy(partOf).toSeq.sortBy(_._1)
              .map { case (p, fs) =>
                new GenericInternalRow(Array[Any](
                  UTF8String.fromString(p),
                  fs.map(f => cur.fileRows.getOrElse(f, 0L)).sum,
                  fs.size)): InternalRow
              }.toArray
          }
        }
      }
  }

  /** Iceberg's `$files` metadata table (core columns): the CURRENT
    * snapshot's data files with per-file row counts (the commit log's
    * manifest `record_count` analog) and on-disk sizes, plus any
    * PENDING delete files under Iceberg's content enum — 1 = position
    * deletes, 2 = equality deletes — so an operator can see exactly the
    * tombstone debt the next compaction will materialize. File lists
    * are driver-small by the same construction as the commit log, so
    * the scan stays local; at manifest scale this becomes a distributed
    * scan over manifest files, which is what Iceberg itself does.
    */
  val FilesSchema: StructType = StructType(Seq(
    StructField("content", IntegerType, nullable = false),
    StructField("file_path", StringType, nullable = false),
    StructField("file_format", StringType, nullable = false),
    StructField("record_count", LongType, nullable = false),
    StructField("file_size_in_bytes", LongType, nullable = false)))

  /** Iceberg's `$manifests` metadata table (core columns): the CURRENT
    * snapshot's manifest chunk files — path, on-disk length, the
    * snapshot that added the chunk (chunks are immutable, so first
    * reference = writer), data file count, and record count. This is
    * the operator's view of commit-metadata health: chunk count bounded
    * by the fold-smallest merge, per-chunk entry counts near the chunk
    * target, record counts summing to the snapshot's row count.
    */
  val ManifestsSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("length", LongType, nullable = false),
    StructField("added_snapshot_id", LongType, nullable = false),
    StructField("added_data_files_count", IntegerType, nullable = false),
    StructField("record_count", LongType, nullable = false)))

  private final class ManifestsTable(base: String, warehouse: String)
      extends Table with SupportsRead {
    override def name(): String = s"$base$$manifests"
    override def schema(): StructType = ManifestsSchema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder {
        override def build(): Scan = new Scan with LocalScan {
          override def readSchema(): StructType = ManifestsSchema
          override def rows(): Array[InternalRow] = {
            handle(base, warehouse).manifestInfo.map { case (path, len, added, nFiles, recs) =>
              new GenericInternalRow(Array[Any](
                UTF8String.fromString(path), len, added.toLong, nFiles, recs)
              ): InternalRow
            }.toArray
          }
        }
      }
  }

  /** Iceberg's `$entries` metadata table (flattened): one row per data
    * file per manifest chunk of the CURRENT snapshot, carrying the
    * write-time stats the planner actually uses — record count, the
    * partition spec the file was written under (null = the declared
    * spec), and the per-column INT64 `[min, max]` bounds range pruning
    * resolves from (`lower_bounds`/`upper_bounds` in Iceberg; one map
    * here since both ends are INT64). This is the observability window
    * into WHY a pruned read skipped a file.
    */
  val EntriesSchema: StructType = StructType(Seq(
    StructField("manifest_path", StringType, nullable = false),
    StructField("file_path", StringType, nullable = false),
    StructField("record_count", LongType, nullable = false),
    StructField("partition_spec", StringType, nullable = true),
    StructField("bounds", MapType(StringType, ArrayType(LongType)), nullable = true)))

  private final class EntriesTable(base: String, warehouse: String)
      extends Table with SupportsRead {
    override def name(): String = s"$base$$entries"
    override def schema(): StructType = EntriesSchema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder {
        override def build(): Scan = new Scan with LocalScan {
          override def readSchema(): StructType = EntriesSchema
          override def rows(): Array[InternalRow] = {
            handle(base, warehouse).manifestEntries.map { case (chunk, e) =>
              val bounds = new ArrayBasedMapData(
                new GenericArrayData(e.b.map(cb => UTF8String.fromString(cb.c)).toArray[Any]),
                new GenericArrayData(e.b.map(cb =>
                  new GenericArrayData(Array[Any](cb.lo, cb.hi))).toArray[Any]))
              new GenericInternalRow(Array[Any](
                UTF8String.fromString(chunk),
                UTF8String.fromString(e.p),
                e.r,
                e.s.map(UTF8String.fromString).orNull,
                bounds)): InternalRow
            }.toArray
          }
        }
      }
  }

  private final class FilesTable(base: String, warehouse: String)
      extends Table with SupportsRead {
    override def name(): String = s"$base$$files"
    override def schema(): StructType = FilesSchema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder {
        override def build(): Scan = new Scan with LocalScan {
          override def readSchema(): StructType = FilesSchema
          override def rows(): Array[InternalRow] = {
            val tbl = handle(base, warehouse)
            val cur = tbl.head
            // content per Iceberg's enum: 0 = data, 1 = position deletes,
            // 2 = equality deletes (the two pending-tombstone kinds)
            val entries = cur.files.map(f => (0, f)) ++
              cur.posDeleteFiles.keys.toSeq.sorted.map(f => (1, f)) ++
              cur.morDeleteFiles.keys.toSeq.sorted.map(f => (2, f))
            entries.map { case (content, f) =>
              val p = java.nio.file.Paths.get(s"${tbl.dataPath}/$f")
              val size =
                try java.nio.file.Files.size(p) catch { case _: Throwable => 0L }
              new GenericInternalRow(Array[Any](
                content,
                UTF8String.fromString(p.toString),
                UTF8String.fromString("PARQUET"),
                cur.fileRows.getOrElse(f, 0L),
                size)): InternalRow
            }.toArray
          }
        }
      }
  }
}
