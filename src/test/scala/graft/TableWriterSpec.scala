package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.Comparator

import scala.jdk.CollectionConverters._

import graft.tables._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The table writer (GraftTable → GraftParquetBridge) against Spark's
  * own file writer and parquet-mr's own footer reader: partition
  * directory names match a `partitionBy` write of the same rows, every
  * manifest entry's rows and bounds match the footer of the file it
  * names, a write with no rows adds no file, and a write whose task
  * fails leaves the data dir and the head commit as they were.
  */
class TableWriterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshRoot(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_writer_wh", name)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    Files.createDirectories(p)
    p.toString
  }

  /** Paths of the parquet files under `dir`, relative to it. */
  private def parquetFiles(dir: String): Set[String] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        !p.getFileName.toString.startsWith("."))
      .map(p => Paths.get(dir).relativize(p).toString).toSet
    finally walk.close()
  }

  private def partitionDirs(dir: String): Set[String] =
    parquetFiles(dir).map(f => Option(Paths.get(f).getParent).map(_.toString).getOrElse(""))

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("k", StringType),
    StructField("ts", TimestampType),
    StructField("v", DoubleType)))

  private def rows: DataFrame = {
    val keys = Seq("a/b", "x=y", "50%", "two words", null, "plain")
    val data = (0 until 60).map { i =>
      Row(i.toLong, keys(i % keys.size),
        new Timestamp(1704067200000L + i * 5400000L), i * 0.5)
    }
    spark.createDataFrame(data.asJava, schema).repartition(3)
  }

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.select(schema.fieldNames.map(col): _*).collect().toSeq.sortBy(_.getLong(0))

  for (p <- Seq(DayTransform("ts"), HourTransform("ts"), IdentityTransform("k"),
      BucketTransform("k", 4))) test(s"partition dirs match Spark's writer: ${p.ddl}") {
    val name = p.name
    val root = freshRoot(name)
    val t = new GraftTable(spark, TableDef(name, schema, partitions = Seq(p)), root)
    t.append(rows)
    val ref = s"$root/reference"
    rows.withColumn(p.name, p.expr).write.partitionBy(p.name).parquet(ref)
    val got = partitionDirs(t.dataPath)
    assert(got == partitionDirs(ref))
    assert(got.forall(_.startsWith(s"${p.name}=")), got)
    if (p.isInstanceOf[IdentityTransform])
      assert(got.contains(s"${p.name}=__HIVE_DEFAULT_PARTITION__") &&
        got.contains(s"${p.name}=a%2Fb") && got.contains(s"${p.name}=x%3Dy") &&
        got.contains(s"${p.name}=50%25"), got)
    // the files hold the logical columns only
    t.commits.last.files.foreach { f =>
      assert(withFooter(s"${t.dataPath}/$f")(_.getFileMetaData.getSchema.getFields
        .asScala.map(_.getName).toSeq) == schema.fieldNames.toSeq, f)
    }
    assert(sortedRows(t.readLogical()) == sortedRows(rows))
  }

  test("every manifest entry's rows and bounds equal the file's footer") {
    val wide = StructType(schema.fields ++ Seq(
      StructField("n", IntegerType), StructField("dec", DecimalType(10, 2)),
      StructField("nul", LongType)))
    val root = freshRoot("stats")
    val local = new GraftTable(spark, TableDef("flat", wide), root)
    val parted = new GraftTable(spark,
      TableDef("parted", wide, partitions = Seq(DayTransform("ts")),
        sortOrder = Seq("id")), root)
    val df = rows
      .withColumn("n", col("id").cast("int") * 3)
      .withColumn("dec", (col("v") * 7).cast(DecimalType(10, 2)))
      .withColumn("nul", lit(null).cast(LongType))
    local.append(df) // distributed
    local.append(spark.createDataFrame(df.limit(2).collect().toSeq.asJava, wide)) // driver-local
    parted.append(df)
    parted.compact(targetBytes = 1L << 30)
    for (t <- Seq(local, parted)) {
      val entries = t.manifestEntries.map(_._2)
      assert(entries.map(_.p).toSet == t.commits.last.files.toSet)
      entries.foreach { e =>
        val (rowCount, bounds) = footerStats(s"${t.dataPath}/${e.p}")
        assert(e.r == rowCount, e.p)
        assert(e.b.map(b => (b.c, b.lo, b.hi)).sorted == bounds.sorted, e.p)
        // the all-null column records the empty range; ts is bounded
        assert(e.b.exists(b => b.c == "nul" && b.lo == Long.MaxValue && b.hi == Long.MinValue))
        assert(e.b.exists(_.c == "ts"))
      }
      assert(entries.map(_.r).sum == t.readLogical().count())
    }
  }

  /** Rows and INT64 column bounds as parquet-mr reads them from the
    * file's footer (an all-null column gives the empty range; a column
    * with non-INT64 or missing stats is left out).
    */
  private def footerStats(file: String): (Long, Seq[(String, Long, Long)]) =
    withFooter(file) { footer =>
      val blocks = footer.getBlocks.asScala.toSeq
      val cols = blocks.flatMap(b => b.getColumns.asScala.map(c => (b.getRowCount, c)))
        .groupBy(_._2.getPath.toDotString)
      val bounds = cols.toSeq.flatMap { case (name, cs) =>
        val per = cs.map { case (n, c) =>
          val s = c.getStatistics
          if (s == null) None
          else if (s.hasNonNullValue) (s.genericGetMin, s.genericGetMax) match {
            case (lo: java.lang.Long, hi: java.lang.Long) => Some((lo.longValue, hi.longValue))
            case _ => None
          }
          else if (s.isNumNullsSet && s.getNumNulls == n) Some((Long.MaxValue, Long.MinValue))
          else None
        }
        if (per.exists(_.isEmpty)) None
        else Some((name, per.map(_.get._1).min, per.map(_.get._2).max))
      }
      (blocks.map(_.getRowCount).sum, bounds)
    }

  private def withFooter[A](file: String)(
      f: org.apache.parquet.hadoop.metadata.ParquetMetadata => A): A = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), spark.sessionState.newHadoopConf())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try f(r.getFooter) finally r.close()
  }

  test("a write with no rows adds no file and no commit") {
    val root = freshRoot("empty")
    val t = new GraftTable(spark, TableDef("e", schema), root)
    t.append(rows)
    val files0 = parquetFiles(t.dataPath)
    val v0 = t.currentVersion
    t.append(spark.createDataFrame(new java.util.ArrayList[Row](), schema)) // driver-local
    t.append(rows.filter(col("id") < 0)) // distributed
    val far = Timestamp.valueOf("2030-01-01 00:00:00").getTime * 1000L
    t.replaceWhere(col("ts") > lit(Timestamp.valueOf("2030-01-01 00:00:00")),
      rows.filter(col("id") < 0), prune = Some(RangePrune("ts", far, far + 1000L)))
    t.deleteWhere(col("id") < 0)
    assert(parquetFiles(t.dataPath) == files0)
    assert(t.currentVersion == v0)
    assert(t.readLogical().count() == 60)
  }

  test("a write whose task fails leaves data/ and the head commit unchanged") {
    val root = freshRoot("fail")
    // unpartitioned and unsorted: no shuffle after the UDF, so it throws
    // inside a write task while the other tasks write their files
    val t = new GraftTable(spark, TableDef("f", schema), root)
    t.append(rows)
    val files0 = parquetFiles(t.dataPath)
    val head0 = t.commits.last
    val boom = udf((id: Long) => if (id == 37L) throw new IllegalStateException("boom") else id)
    val e = intercept[Exception](t.append(rows.withColumn("id", boom(col("id")))))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains("boom"))), e)
    assert(parquetFiles(t.dataPath) == files0)
    assert(t.commits.last == head0)
    assert(t.readLogical().count() == 60)
  }
}
