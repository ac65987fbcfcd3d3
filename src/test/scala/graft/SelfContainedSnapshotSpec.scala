package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.util.Try

import graft.tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** A snapshot is one commit json plus its manifest chunks: `head`
  * parses only the highest commit json, `snapshot(v)` only `v`'s, and
  * every manifest entry carries its file's sequence number, so
  * merge-on-read latest-wins order and rename epochs resolve without
  * any other commit. The check: make every older commit json
  * unparseable and read through a fresh handle — every snapshot read,
  * and an append, must give the answers they gave before.
  */
class SelfContainedSnapshotSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshRoot(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_selfcontained_wh", name)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    Files.createDirectories(p)
    p.toString
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("ts", TimestampType),
    StructField("v", DoubleType)))

  private def df(ids: Range, day: Int, v: Double): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong,
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d ${i % 24}%02d:00:00"), v))
      .toDF("id", "ts", "v")
  }

  private def micros(s: String): Long = java.sql.Timestamp.valueOf(s).getTime * 1000L

  private def rows(d: DataFrame): Seq[String] = d.collect().map(_.toString).toSeq.sorted

  /** Overwrite every commit json but the head's with bytes no parser
    * accepts.
    */
  private def corruptAllButHead(root: String, name: String, head: Int): Int = {
    val dir = Paths.get(root, name, "_commits")
    val old = (1 until head).map(v => dir.resolve(s"commit-$v.json"))
    old.foreach(p => Files.writeString(p, "\u0000 not a commit {"))
    old.size
  }

  /** Every snapshot-read answer of `t`: head version, the head read by
    * version, a sink mark, the logical rows, a range read (or its
    * refusal), and a watermark.
    */
  private def answers(t: GraftTable, tsCol: String): Seq[Any] = {
    val h = t.head
    Seq(h.version, h.files.sorted, t.snapshot(Some(h.version)) == h,
      t.lastCommittedBatch("sink"),
      rows(t.readLogical()),
      Try(rows(t.readRangeLogical(tsCol, micros("2024-01-03 00:00:00"),
        micros("2024-01-05 23:59:59")))).toEither.left.map(_.getMessage),
      t.columnMaxMicros(tsCol))
  }

  test("a partitioned merge-on-read table reads and appends from the head json alone") {
    val root = freshRoot("mor")
    val defn = TableDef("sc_mor", schema, keys = Seq("id"), mergeOnRead = true,
      partitions = Seq(DayTransform("ts")))
    val t = new GraftTable(spark, defn, root)
    t.append(df(0 until 40, 1, 0.0)) // v1
    (1 to 12).foreach { i => // v2..v13: overlapping upserts, sink-marked
      t.withSinkMark("sink", i.toLong) {
        t.upsert(df(i * 2 until i * 2 + 10, 1 + i % 5, i.toDouble))
      }
    }
    t.deleteKeys(df(0 until 3, 1, 0.0)) // v14: equality tombstones
    t.upsert(df(1 until 2, 2, 99.0)) // v15: resurrects key 1
    val before = answers(t, "ts")
    assert(before.head == 15)
    assert(corruptAllButHead(root, "sc_mor", 15) == 14)
    val fresh = new GraftTable(spark, defn, root)
    assert(answers(fresh, "ts") == before)
    // the read itself is the latest-wins answer, not just a stable one
    val logical = fresh.readLogical().collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(!logical.contains(0L) && !logical.contains(2L) && logical(1L) == 99.0)
    assert(logical(24L) == 12.0 && logical(39L) == 0.0)
    fresh.append(df(100 until 105, 6, 7.0))
    assert(fresh.head.version == 16)
    assert(new GraftTable(spark, defn, root).readLogical().count() == logical.size + 5)
  }

  test("a renamed plain table reads and appends from the head json alone") {
    val root = freshRoot("ren")
    val defn = TableDef("sc_ren", schema)
    val t = new GraftTable(spark, defn, root)
    (1 to 6).foreach(d => t.append(df(d * 10 until d * 10 + 10, d, d.toDouble))) // v1..v6
    t.renameColumn("ts", "event_ts") // v7
    t.renameColumn("v", "amount") // v8
    (7 to 12).foreach(d => t.withSinkMark("sink", d.toLong) { // v9..v14
      t.append(df(d * 10 until d * 10 + 10, d, d.toDouble)
        .withColumnRenamed("ts", "event_ts").withColumnRenamed("v", "amount"))
    })
    t.renameColumn("amount", "amt") // v15
    val before = answers(t, "event_ts")
    assert(before.head == 15)
    // pruning resolved the pre-rename files' stored name: only days 3-5
    assert(before(5) == Right(rows(t.readLogical().filter(
      col("event_ts") >= lit("2024-01-03").cast("timestamp") &&
        col("event_ts") < lit("2024-01-06").cast("timestamp")))))
    assert(corruptAllButHead(root, "sc_ren", 15) == 14)
    val fresh = new GraftTable(spark, defn, root)
    assert(answers(fresh, "event_ts") == before)
    assert(fresh.readLogical().filter(col("amt").isNull).count() == 0)
    fresh.append(df(200 until 205, 13, 13.0)
      .withColumnRenamed("ts", "event_ts").withColumnRenamed("v", "amt"))
    assert(fresh.head.version == 16)
    assert(new GraftTable(spark, defn, root).readLogical().count() == 125)
  }

  test("a dropped column's re-add is detected from the head json alone") {
    val root = freshRoot("readd")
    val defn = TableDef("sc_readd", schema)
    val t = new TableCatalog(spark, root, Seq(defn)).table("sc_readd")
    t.append(df(0 until 4, 1, 1.0)) // v1
    t.addColumns(StructField("c", LongType)) // v2
    t.append(df(4 until 6, 2, 2.0).withColumn("c", lit(7L))) // v3: its file stores c
    t.dropColumns("c") // v4: the permanent `4|c|` entry
    assert(corruptAllButHead(root, "sc_readd", 4) == 3)
    val cat = new TableCatalog(spark, root, Seq(defn))
    val fresh = cat.table("sc_readd")
    fresh.addColumns(StructField("c", LongType)) // v5
    assert(fresh.head.renames.contains("5||c"),
      s"the re-add must record its add entry: ${fresh.head.renames}")
    val out = fresh.readLogical()
    assert(out.count() == 6)
    assert(out.filter(col("c").isNotNull).count() == 0,
      "files written before the re-add must read c as null, not their dead values")
    cat.checkDrift() // v3's file still stores c: a name that existed, not drift
  }
}
