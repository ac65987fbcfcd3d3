package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import graft.tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Changelog-read semantics that aren't SQL-expressible for the oracle
  * (the file-delta bookkeeping itself is the `s16_incremental_read`
  * row): merge-on-read upsert deltas ARE the upserted batch, a range
  * crossing only layout rewrites is empty, blind rewrites refuse
  * loudly, and bad ranges fail fast.
  */
class ChangelogSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshRoot(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_test_wh", name)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    Files.createDirectories(p)
    p.toString
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("grp", StringType),
    StructField("v", DoubleType)))

  private def df(ids: Range, grp: String, v: Double) = {
    import spark.implicits._
    ids.map(i => (i.toLong, grp, v)).toDF("id", "grp", "v")
  }

  private def rows(d: org.apache.spark.sql.DataFrame): Set[(Long, String, Double, Int, String)] =
    d.select(col("id"), col("grp"), col("v"),
        col("_change_version"), col("_change_type"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3), r.getString(4)))
      .toSet

  test("merge-on-read upsert deltas are exactly the upserted batches, in version order") {
    val t = new GraftTable(spark,
      TableDef("cl1", schema, keys = Seq("id"), mergeOnRead = true), freshRoot("cl1"))
    t.append(df(0 until 10, "a", 1.0)) // v1
    t.upsert(df(5 until 12, "b", 2.0)) // v2: revises 5-9, adds 10-11
    t.upsert(df(0 until 3, "c", 3.0))  // v3: revises 0-2

    assert(rows(t.readChanges(1, 2)) ==
      (5 until 12).map(i => (i.toLong, "b", 2.0, 2, "upsert")).toSet)
    // the full range carries every change with its introducing version;
    // a consumer replaying in order converges to readLogical
    val full = rows(t.readChanges(0, 3))
    assert(full ==
      (0 until 10).map(i => (i.toLong, "a", 1.0, 1, "insert")).toSet ++
        (5 until 12).map(i => (i.toLong, "b", 2.0, 2, "upsert")) ++
        (0 until 3).map(i => (i.toLong, "c", 3.0, 3, "upsert")))
    val replayed = full.groupBy(_._1).map { case (_, ch) => ch.maxBy(_._4) }
      .map(c => (c._1, c._2, c._3)).toSet
    val logical = t.readLogical().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(replayed == logical, "in-order changelog replay must converge to the table")
  }

  test("a range crossing only layout rewrites is empty; schema is stable") {
    val t = new GraftTable(spark, TableDef("cl2", schema), freshRoot("cl2"))
    t.append(df(0 until 50, "a", 1.0))  // v1
    t.append(df(50 until 90, "b", 2.0)) // v2
    t.compact(targetBytes = 64L * 1024) // v3
    val empty = t.readChanges(2, 3)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq ==
      Seq("id", "grp", "v", "_change_version", "_change_type"))
  }

  test("copy-on-write upsert deltas are exactly the upserted batch (changeFiles CDC)") {
    val t = new GraftTable(spark, TableDef("cl3", schema, keys = Seq("id")), freshRoot("cl3"))
    t.append(df(0 until 10, "a", 1.0)) // v1
    t.upsert(df(5 until 12, "b", 2.0)) // v2: COW rewrite, batch files recorded
    // the delta is the BATCH, not the rewritten merged file set — the
    // survivors' fresh files must contribute nothing
    assert(rows(t.readChanges(1, 2)) ==
      (5 until 12).map(i => (i.toLong, "b", 2.0, 2, "upsert")).toSet)
    // in-order latest-wins replay of the full range converges to the table
    val full = rows(t.readChanges(0, 2))
    val replayed = full.groupBy(_._1).map { case (_, ch) => ch.maxBy(_._4) }
      .map(c => (c._1, c._2, c._3)).toSet
    val logical = t.readLogical().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(replayed == logical, "COW changelog replay must converge to the table")
  }

  test("change-tracked replace serves insert+delete rows; replay converges") {
    val t = new GraftTable(spark, TableDef("cl7", schema), freshRoot("cl7"))
    t.append(df(0 until 10, "a", 1.0)) // v1
    t.append(df(10 until 15, "b", 2.0)) // v2
    // v3: tracked repair — rows 3..7 replaced by revised values
    t.replaceWhere(col("id") >= 3 && col("id") <= 7,
      df(3 until 8, "r", 9.0), trackChanges = true)
    val v3 = rows(t.readChanges(2, 3))
    assert(v3 ==
      (3 until 8).map(i => (i.toLong, "r", 9.0, 3, "insert")).toSet ++
        (3 until 8).map(i => (i.toLong, "a", 1.0, 3, "delete")),
      s"unexpected v3 delta: $v3")
    // full-range replay: inserts multiset-minus deletes == the table
    val ch = t.readChanges(0, 3)
    val replayed = ch.filter(col("_change_type") =!= "delete")
      .select(col("id"), col("grp"), col("v"))
      .exceptAll(ch.filter(col("_change_type") === "delete")
        .select(col("id"), col("grp"), col("v")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val logical = t.readLogical().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(replayed == logical, "tracked-replace replay must converge to the table")
    // the delete-record files are the commit's changelog payload: they
    // must survive orphan cleanup while their commit json lives
    t.removeOrphans()
    assert(rows(t.readChanges(2, 3)) == v3,
      "delete files reaped by removeOrphans while their commit is live")
  }

  test("keyed tracked replace (replaceKeys) serves the keys' old rows as deletes") {
    import spark.implicits._
    val t = new GraftTable(spark, TableDef("cl8", schema), freshRoot("cl8"))
    t.append(df(0 until 10, "a", 1.0)) // v1
    t.replaceKeys(Seq(2L, 5L).toDF("id"), Seq("id"),
      df(2 until 3, "k", 7.0).unionByName(df(5 until 6, "k", 7.0)),
      trackChanges = true) // v2
    assert(rows(t.readChanges(1, 2)) ==
      Set((2L, "k", 7.0, 2, "insert"), (5L, "k", 7.0, 2, "insert"),
        (2L, "a", 1.0, 2, "delete"), (5L, "a", 1.0, 2, "delete")))
  }

  test("blind rewrites refuse: their file delta is not a change set") {
    val t = new GraftTable(spark, TableDef("cl6", schema, keys = Seq("id")), freshRoot("cl6"))
    t.append(df(0 until 10, "a", 1.0)) // v1
    t.overwrite(df(0 until 5, "b", 2.0)) // v2: blind rewrite
    val e = intercept[IllegalArgumentException](t.readChanges(1, 2).collect())
    assert(e.getMessage.contains("no derivable change set"), e.getMessage)
    // ranges that stop BEFORE the rewrite still serve
    assert(t.readChanges(0, 1).count() == 10)
  }

  test("an expired predecessor is a changelog GAP, never a silent full replay") {
    val t = new GraftTable(spark, TableDef("cl5", schema), freshRoot("cl5"))
    t.append(df(0 until 10, "a", 1.0)) // v1
    t.append(df(10 until 15, "b", 2.0)) // v2 (carries v1's files too)
    t.compact(targetBytes = 64L * 1024) // v3 — makes v1/v2 expirable
    assert(t.expireSnapshots(0L) > 0, "expiry should retire superseded commits")
    // expiry kept only the head (v3), so v2's json is gone too: without
    // the gap check v2's 5 rows would silently vanish from the changelog
    val e = intercept[IllegalStateException](t.readChanges(1, 2).collect())
    assert(e.getMessage.contains("changelog gap"), e.getMessage)
  }

  test("bad ranges fail fast") {
    val t = new GraftTable(spark, TableDef("cl4", schema), freshRoot("cl4"))
    t.append(df(0 until 5, "a", 1.0))
    intercept[IllegalArgumentException](t.readChanges(2, 1))
    intercept[IllegalArgumentException](t.readChanges(0, 9))
  }
}
