package org.apache.spark.sql.execution.datasources.parquet

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.tables.ColumnBound
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** The graft table writer: every data, tombstone and delete file a
  * `GraftTable` commit adds is written here, by Spark tasks over a
  * query's rows or on the driver for a tiny local relation. Files go
  * through Spark's OWN [[ParquetWriteSupport]] (same package, the
  * conventional extension point), so every on-disk convention matches
  * what Spark's file writer produces: schema conversion, INT64
  * TIMESTAMP(MICROS), footer min/max statistics, decimal/interval
  * encodings and the spark row-metadata key.
  *
  * The writer reports each file's row count and INT64 column bounds
  * from the footer it just wrote (Iceberg's writers take manifest
  * metrics from the writing task the same way), so a commit never
  * re-opens a data file for its stats.
  */
object GraftParquetBridge {

  /** One file the writer wrote: its path relative to the write's root
    * dir (`name=value/…/part-….parquet` when partitioned), its row
    * count, and the `[min, max]` of every column whose footer stats
    * decode as INT64. An all-null column records the empty range
    * (MaxValue, MinValue); unusable stats (missing, non-INT64,
    * null-count unknown) omit the column.
    */
  final case class WrittenFile(path: String, rows: Long, bounds: Seq[ColumnBound])

  /** The session settings a write needs, resolved on the driver and
    * shipped to the tasks, so no task reads a session conf.
    */
  final class WriteSettings private[GraftParquetBridge] (
      private[GraftParquetBridge] val conf: SerializableConfiguration,
      private[GraftParquetBridge] val codec: CompressionCodecName) extends Serializable

  private final class RowBuilder(path: Path)
      extends ParquetWriter.Builder[InternalRow, RowBuilder](path) {
    override def self(): RowBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport().asInstanceOf[WriteSupport[InternalRow]]
  }

  /** Resolve `spark`'s write settings. [[ParquetWriteSupport.init]] and
    * its schema converter read the legacy-format, timestamp-type,
    * field-id and variant flags from the Hadoop conf with a bare
    * `.toBoolean`/`withName`; `newHadoopConf` carries only EXPLICITLY
    * set SQL confs, so each one's session-effective value is set here
    * (what `ParquetFileFormat.prepareWrite` does for Spark's writer).
    * The timestamp type is pinned to MICROS whatever the session
    * default: the table layer needs ordered INT64 footer stats for its
    * manifest bounds, and INT96 has none. The codec is the session's
    * `spark.sql.parquet.compression.codec`.
    */
  def settings(spark: SparkSession): WriteSettings = {
    val sqlConf = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlConf.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlConf.getConf(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED).toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlConf.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    val codec = sqlConf.getConfString("spark.sql.parquet.compression.codec", "snappy")
      .trim.toUpperCase match {
        case "NONE" | "UNCOMPRESSED" => CompressionCodecName.UNCOMPRESSED
        case c =>
          try CompressionCodecName.valueOf(c)
          catch { case _: IllegalArgumentException => CompressionCodecName.SNAPPY }
      }
    new WriteSettings(new SerializableConfiguration(conf), codec)
  }

  /** Run [[write]] in Spark tasks over the rows of `query` (laid out as
    * [[write]] reads them) and return every file written. The write is
    * one Spark command, so the execution that runs it names `dir` in
    * its plan, as Spark's own file writes do: SQL listeners and the UI
    * see what was written where, above the plan that produced the rows.
    */
  def writeQuery(spark: SparkSession, query: LogicalPlan, dir: String,
      partCols: Seq[String], settings: WriteSettings): Seq[WrittenFile] = {
    val written = new ConcurrentLinkedQueue[WrittenFile]()
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      WriteCommand(query, dir, partCols, settings, written))
    written.asScala.toSeq
  }

  /** The command [[writeQuery]] runs; `written` collects the tasks'
    * reports on the driver.
    */
  private final case class WriteCommand(query: LogicalPlan, dir: String,
      partCols: Seq[String], settings: WriteSettings,
      written: ConcurrentLinkedQueue[WrittenFile]) extends DataWritingCommand {
    override def outputColumnNames: Seq[String] = query.output.map(_.name)
    override protected def stringArgs: Iterator[Any] = Iterator(dir, partCols)
    override def run(spark: classic.SparkSession, child: SparkPlan): Seq[Row] = {
      val (d, parts, conf) = (dir, partCols, settings)
      // the query's columns, as Spark's writer takes them (a physical
      // plan may narrow nullability, which would change the file schema)
      val dataSchema = DataTypeUtils.fromAttributes(outputColumns.dropRight(parts.size))
      spark.sparkContext.runJob(child.execute(),
        (rows: Iterator[InternalRow]) => write(d, dataSchema, parts, conf, rows))
        .foreach(fs => written.addAll(fs.asJava))
      Nil
    }
    override protected def withNewChildInternal(newChild: LogicalPlan): WriteCommand =
      copy(query = newChild)
  }

  /** Write `rows` as parquet files under `dir`. Each row holds the
    * `dataSchema` columns, then one STRING column per `partCols` entry
    * (the partition value already cast to string in the session time
    * zone); files hold the data columns only. A new file opens whenever
    * the partition values change, so rows clustered by partition value
    * give one file per value, in the directory Spark's own writer names
    * (`ExternalCatalogUtils.getPartitionPathString`, null or empty →
    * `__HIVE_DEFAULT_PARTITION__`). No rows, no file. File names carry
    * the task's partition id and a fresh UUID, so task attempts and
    * concurrent writes never collide.
    */
  def write(dir: String, dataSchema: StructType, partCols: Seq[String],
      settings: WriteSettings, rows: Iterator[InternalRow]): Seq[WrittenFile] = {
    val conf = new Configuration(settings.conf.value)
    ParquetWriteSupport.setSchema(dataSchema, conf)
    val nData = dataSchema.length
    val dataOnly: InternalRow => InternalRow =
      if (partCols.isEmpty) identity
      else UnsafeProjection.create(dataSchema.fields.toSeq.zipWithIndex.map {
        case (f, i) => BoundReference(i, f.dataType, f.nullable)
      })
    val prefix = f"part-${TaskContext.getPartitionId()}%05d-${java.util.UUID.randomUUID()}"
    val ext = settings.codec.getExtension + ".parquet"
    val out = Seq.newBuilder[WrittenFile]
    val values = new Array[UTF8String](partCols.size)
    var writer: ParquetWriter[InternalRow] = null
    var rel: String = null
    var fileCount = 0
    def finish(): Unit = if (writer != null) {
      val w = writer
      writer = null
      w.close()
      out += stats(rel, w.getFooter)
    }
    try {
      rows.foreach { row =>
        var changed = writer == null
        var i = 0
        while (i < values.length) {
          val v = if (row.isNullAt(nData + i)) null else row.getUTF8String(nData + i)
          if (v != values(i)) { values(i) = if (v == null) null else v.clone(); changed = true }
          i += 1
        }
        if (changed) {
          finish()
          val partDir = partCols.indices.map(i => ExternalCatalogUtils.getPartitionPathString(
            partCols(i), Option(values(i)).map(_.toString).orNull) + "/").mkString
          rel = f"$partDir$prefix-c$fileCount%03d$ext"
          fileCount += 1
          writer = new RowBuilder(new Path(s"$dir/$rel"))
            .withConf(conf)
            .withCompressionCodec(settings.codec)
            .build()
        }
        writer.write(dataOnly(row))
      }
      finish()
    } catch {
      case t: Throwable =>
        if (writer != null)
          try writer.close() catch { case s: Throwable => t.addSuppressed(s) }
        throw t
    }
    out.result()
  }

  /** Rows and INT64 column bounds of one written file, from its footer. */
  private def stats(rel: String, footer: ParquetMetadata): WrittenFile = {
    var rows = 0L
    val lo = scala.collection.mutable.Map[String, Long]()
    val hi = scala.collection.mutable.Map[String, Long]()
    val seen = scala.collection.mutable.Set[String]()
    val bad = scala.collection.mutable.Set[String]()
    footer.getBlocks.asScala.foreach { b =>
      rows += b.getRowCount
      b.getColumns.asScala.foreach { c =>
        val name = c.getPath.toDotString
        seen += name
        val s = c.getStatistics
        if (s == null) bad += name
        else if (s.hasNonNullValue) (s.genericGetMin, s.genericGetMax) match {
          case (mn: java.lang.Long, mx: java.lang.Long) =>
            lo(name) = math.min(lo.getOrElse(name, Long.MaxValue), mn)
            hi(name) = math.max(hi.getOrElse(name, Long.MinValue), mx)
          case _ => bad += name // non-INT64: no orderable bounds kept
        }
        else if (!(s.isNumNullsSet && s.getNumNulls == b.getRowCount)) bad += name
      }
    }
    val bounds = seen.diff(bad).toSeq.sorted.map(n => ColumnBound(n,
      lo.getOrElse(n, Long.MaxValue), hi.getOrElse(n, Long.MinValue)))
    WrittenFile(rel, rows, bounds)
  }
}
