package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.Comparator

import scala.jdk.CollectionConverters._

import graft.materialize.{CdcAggConsumer, FactBound, MatView, Materializer}
import graft.tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** A changelog read is a function of its own version range: each commit
  * names its own change (its manifest entries and tombstones carry its
  * version), so `readChanges(n−1, n)`, a `CdcAggConsumer` poll and the
  * materializer's file-delta detection read commit `n`'s json and no
  * other. Pinned by overwriting every other commit json with bytes that
  * do not parse: a fresh handle must still give the answers the intact
  * log gave. A merge-on-read delete is the one leg that reads its
  * predecessor, so an unparseable predecessor fails it loudly.
  */
class ChangelogRangeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshRoot(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_range_wh", name)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    Files.createDirectories(p)
    p.toString
  }

  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val d = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  /** Overwrite every commit json of `table` except `commit-keep.json`. */
  private def corruptAllBut(root: String, table: String, keep: Int): Int = {
    val dir = Paths.get(root, table, "_commits")
    val jsons = Files.list(dir).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.matches("commit-\\d+\\.json") &&
        p.getFileName.toString != s"commit-$keep.json")
    jsons.foreach(Files.writeString(_, "{ not a commit"))
    jsons.size
  }

  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private val aggSchema = StructType(Seq(
    StructField("event_type", StringType),
    StructField("n", LongType),
    StructField("cents", LongType)))

  private val matSchema = StructType(Seq(
    StructField("window_start", TimestampType),
    StructField("event_type", StringType),
    StructField("n", LongType),
    StructField("total_value", DoubleType)))

  private val view = MatView("hourly", "window_start", Seq("window_start", "event_type"),
    facts => facts
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"), col("total_value")),
    factBound = Some(FactBound("ts", "1 hour")))

  private def events(i: Int): DataFrame = {
    import spark.implicits._
    Seq(0, 1).map { j =>
      val id = i * 2L + j
      (id, Timestamp.valueOf(f"2024-02-${1 + i % 5}%02d ${(i * 3 + j) % 24}%02d:00:00"),
        id % 3, if (j == 0) "view" else "click", id.toDouble + 0.25)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
  }

  private def catalog(root: String) = new TableCatalog(spark, root, Seq(
    TableDef("src", eventsSchema),
    TableDef("agg", aggSchema, keys = Seq("event_type")),
    TableDef("mat", matSchema, keys = Seq("window_start", "event_type")),
    Materializer.watermarkTableDef))

  private def consumer(cat: TableCatalog) =
    new CdcAggConsumer(spark, cat.table("src"), cat.table("agg"), Seq("event_type"), "value")

  private def materializer(cat: TableCatalog) =
    new Materializer(spark, cat.table("src"), view, cat.table("mat"),
      cat.table("materialization_watermarks"))

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** The answers a fresh catalog over `root` gives at `(n−1, n]`. */
  private def answers(root: String, n: Int): Seq[Any] = {
    val cat = catalog(root)
    val src = cat.table("src")
    val deltas = src.fileDeltasSince(n - 1, n)
    val changes = rows(src.readChanges(n - 1, n))
    val polled = consumer(cat).poll()
    val mzr = materializer(cat)
    mzr.run()
    Seq(deltas.map(_.map(d => (d._1.version, d._1.op, d._2, d._3))), changes, polled,
      rows(cat.table("agg").readLogical()), rows(cat.table("mat").readLogical()),
      mzr.lastRunViewComputes, mzr.lastRunBoundedComputes)
  }

  test("an append's changelog, a consumer poll and a file-delta materializer run read only their range") {
    val root = freshRoot("cow")
    val n = 15
    val cat = catalog(root)
    (1 until n).foreach(i => cat.table("src").append(events(i)))
    consumer(cat).poll()
    materializer(cat).run()
    cat.table("src").append(events(n))
    val twin = freshRoot("cow_twin")
    copyTree(root, twin)

    val intact = answers(root, n)
    assert(intact.head.asInstanceOf[Either[_, Seq[_]]].exists(_.size == 1),
      s"v$n's file delta should be derivable: ${intact.head}")
    assert(intact(1).asInstanceOf[Seq[_]].size == 2 && intact(2) == 1)

    assert(corruptAllBut(twin, "src", n) == n - 1)
    intercept[IllegalStateException](new GraftTable(spark, catalog(twin).defn("src"), twin)
      .snapshot(Some(n - 1)))
    assert(answers(twin, n) == intact)
  }

  test("a merge-on-read upsert's changelog reads only its commit; a delete's reads its predecessor") {
    val root = freshRoot("mor")
    val defn = TableDef("msrc", eventsSchema, keys = Seq("event_id"), mergeOnRead = true)
    def fresh = new GraftTable(spark, defn, root)
    val n = 15
    (1 to n).foreach(i => fresh.upsert(events(i % 4).withColumn("value", lit(i.toDouble))))
    assert(fresh.head.op == "upsert-mor" && fresh.currentVersion == n)
    val upserts = rows(fresh.readChanges(n - 1, n))
    assert(upserts.size == 2 && upserts.forall(_.endsWith(s"|$n|upsert")), upserts)

    assert(corruptAllBut(root, "msrc", n) == n - 1)
    assert(rows(fresh.readChanges(n - 1, n)) == upserts)
    // a delete commits over the head alone, and its changelog leg reads
    // the predecessor's rows
    fresh.deleteKeys(spark.range(1).select(lit(2L).as("event_id")))
    assert(fresh.head.op == "delete-mor")
    val deletes = rows(fresh.readChanges(n, n + 1))
    assert(deletes.size == 1 && deletes.head.endsWith(s"|${n + 1}|delete"), deletes)
    corruptAllBut(root, "msrc", n + 1)
    val e = intercept[IllegalStateException](fresh.readChanges(n, n + 1).collect())
    assert(e.getMessage.contains(s"commit-$n.json"), e.getMessage)
  }
}
