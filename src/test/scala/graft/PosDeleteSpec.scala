package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import graft.tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Position deletes (Iceberg v2's `(file, pos)` delete files): a
  * predicate DELETE on an append/COW table writes O(matches) tombstones
  * and zero data rewrites, logical reads anti-join them away, raw-file
  * readers refuse until compaction materializes them (rewriting ONLY
  * the referenced files), the changelog emits the deleted rows, and the
  * CDC consumer folds them incrementally.
  */
class PosDeleteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshRoot(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_pos_wh", name)
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

  test("deleteWhere writes tombstones only: files unchanged, reads filtered, deletes compose") {
    val t = new GraftTable(spark, TableDef("pd1", schema), freshRoot("pd1"))
    t.append(df(0 until 10, "a", 1.0)) // v1
    t.append(df(10 until 20, "b", 2.0)) // v2
    val filesBefore = t.commits.last.files.toSet
    t.deleteWhere(col("id") % 2 === 0) // v3: evens die
    assert(t.commits.last.files.toSet == filesBefore, "predicate delete rewrote data files")
    assert(t.commits.last.op == "delete-pos")
    val out = t.readLogical()
    assert(out.count() == 10)
    assert(out.filter(col("id") % 2 === 0).count() == 0)
    // a second delete composes with the first's pending tombstones
    t.deleteWhere(col("grp") === "b") // v4: odd b-rows die
    val out2 = t.readLogical()
    assert(out2.count() == 5)
    assert(out2.filter(col("grp") === "b").count() == 0)
    // time travel: pre-delete snapshots still serve everything
    assert(t.readLogical(Some(2)).count() == 20)
    assert(t.readLogical(Some(3)).count() == 10)
    // zero matches → no commit
    val v = t.currentVersion
    t.deleteWhere(col("id") > 1000)
    assert(t.currentVersion == v)
  }

  test("compact rewrites ONLY referenced files, clears the map; rows stay deleted") {
    val t = new GraftTable(spark, TableDef("pd2", schema), freshRoot("pd2"))
    t.append(df(0 until 10, "a", 1.0)) // v1: file(s) A
    t.append(df(10 until 20, "b", 2.0)) // v2: file(s) B
    val before = t.commits.last.files
    t.deleteWhere(col("grp") === "a" && col("id") < 3) // touches only A's files
    assert(t.needsCompaction(), "pending position deletes flag compaction")
    // a tiny targetBytes makes every file "big enough", so carry vs
    // rewrite is decided ONLY by tombstone references at test scale
    t.compact(targetBytes = 1024)
    assert(t.commits.last.posDeleteFiles.isEmpty)
    val after = t.commits.last.files
    val carried = before.toSet.intersect(after.toSet)
    assert(carried.nonEmpty,
      s"expected unreferenced files to carry by name: $before -> $after")
    assert(carried != before.toSet,
      "files referenced by tombstones must have been rewritten")
    val out = t.readLogical()
    assert(out.count() == 17)
    assert(out.filter(col("grp") === "a" && col("id") < 3).count() == 0)
    // raw physical read works again after materialization
    assert(t.read().count() == 17)
  }

  test("raw-file readers refuse while tombstones pend; MOR delegates to equality deletes") {
    val t = new GraftTable(spark,
      TableDef("pd3", schema, sortOrder = Seq("id")), freshRoot("pd3"))
    t.append(df(0 until 10, "a", 1.0))
    t.deleteWhere(col("id") === 5)
    intercept[IllegalArgumentException] { t.read() }
    intercept[IllegalArgumentException] { t.readRangeLogical("id", 0L, 100L) }
    intercept[IllegalArgumentException] {
      t.replaceWhere(col("id") === 1, df(1 until 2, "x", 9.0))
    }
    // merge-on-read: deleteWhere delegates to key-granular equality deletes
    val m = new GraftTable(spark,
      TableDef("pd3m", schema, keys = Seq("id"), mergeOnRead = true), freshRoot("pd3m"))
    m.upsert(df(0 until 6, "a", 1.0))
    m.upsert(df(3 until 6, "b", 2.0)) // revise 3..5
    m.deleteWhere(col("grp") === "b") // kills keys 3..5 via tombstone
    assert(m.commits.last.op == "delete-mor")
    val out = m.readLogical()
    assert(out.count() == 3, "older shadowed rows must NOT resurface")
    assert(out.filter(col("id") >= 3).count() == 0)
  }

  test("changelog emits the deleted rows; CdcAggConsumer folds a predicate delete") {
    import graft.materialize.CdcAggConsumer
    val root = freshRoot("pd4")
    val aggSchema = StructType(Seq(
      StructField("grp", StringType),
      StructField("n", LongType),
      StructField("cents", LongType)))
    val cat = new TableCatalog(spark, root, Seq(
      TableDef("src", schema),
      TableDef("agg", aggSchema, keys = Seq("grp"))))
    val src = cat.table("src")
    val agg = cat.table("agg")
    src.append(df(0 until 10, "a", 1.0)) // v1
    src.append(df(10 until 16, "b", 2.0)) // v2
    src.deleteWhere(col("id") % 3 === 0) // v3: 0,3,6,9 (a) and 12,15 (b)
    val ch = src.readChanges(2, 3)
    assert(ch.filter(col("_change_type") === "delete").count() == 6)
    assert(ch.filter(col("_change_type") === "delete" && col("grp") === "a").count() == 4)
    val consumer = new CdcAggConsumer(spark, src, agg, Seq("grp"), "v")
    assert(consumer.poll() == 3)
    val out = agg.readLogical().orderBy("grp").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 6L, 600L), ("b", 4L, 800L)))
    // the invariant: consumer state == recompute from the visible source
    src.deleteWhere(col("grp") === "a") // v4
    consumer.poll()
    val out2 = agg.readLogical().collect()
    assert(out2.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("b", 4L, 800L)), "group folded to zero leaves the view")
  }

  test("maintenance: orphan sweep spares pending tombstone files; expiry keeps reads sound") {
    val t = new GraftTable(spark, TableDef("pd5", schema), freshRoot("pd5"))
    t.append(df(0 until 10, "a", 1.0))
    t.deleteWhere(col("id") < 4)
    assert(t.removeOrphans() == 0, "pending pos-delete files are referenced, not orphans")
    assert(t.readLogical().count() == 6)
    Thread.sleep(2)
    t.expireSnapshots(0L) // only the latest commit survives; map carried
    assert(t.readLogical().count() == 6)
    t.compact()
    Thread.sleep(2)
    t.expireSnapshots(0L)
    val reclaimed = t.removeOrphans()
    assert(reclaimed > 0, "materialized tombstones + superseded data reclaim after compact")
    assert(t.readLogical().count() == 6)
  }

  test("$files metadata lists pending tombstones under Iceberg's content enum") {
    val root = freshRoot("pd8")
    val t = new GraftTable(spark, TableDef("pd8t", schema), root)
    t.append(df(0 until 10, "a", 1.0))
    t.deleteWhere(col("id") < 3)
    val m = new GraftTable(spark,
      TableDef("pd8m", schema, keys = Seq("id"), mergeOnRead = true), root)
    m.upsert(df(0 until 6, "a", 1.0))
    m.deleteKeys(df(0 until 2, "a", 1.0))
    spark.conf.set("spark.sql.catalog.pdcat", "graft.tables.MetaCatalog")
    spark.conf.set("spark.sql.catalog.pdcat.warehouse", root)
    def contents(tbl: String): Seq[Int] =
      spark.sql(s"SELECT content FROM pdcat.db.`$tbl$$files`")
        .collect().map(_.getInt(0)).toSeq
    // content: 0 = data, 1 = position deletes, 2 = equality deletes
    assert(contents("pd8t").toSet == Set(0, 1), contents("pd8t").toString)
    assert(contents("pd8m").toSet == Set(0, 2), contents("pd8m").toString)
    // compaction materializes the debt: only data files remain
    t.compact()
    m.compact()
    assert(contents("pd8t").toSet == Set(0))
    assert(contents("pd8m").toSet == Set(0))
  }

  test("pruned deleteWhere scans only footer-overlapping files") {
    val tsSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("ts", TimestampType),
      StructField("v", DoubleType)))
    def tdf(ids: Range, day: Int) = {
      import spark.implicits._
      ids.map(i => (i.toLong,
        java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"), i.toDouble))
        .toDF("id", "ts", "v")
    }
    val t = new GraftTable(spark, TableDef("pd7", tsSchema), freshRoot("pd7"))
    t.append(tdf(0 until 10, 1))  // day-1 file(s)
    t.append(tdf(10 until 20, 5)) // day-5 file(s)
    val lo = java.sql.Timestamp.valueOf("2024-01-05 00:00:00").getTime * 1000L
    val hi = java.sql.Timestamp.valueOf("2024-01-05 23:59:59").getTime * 1000L
    t.deleteWhere(col("v") >= 15.0, Some(RangePrune("ts", lo, hi)))
    val out = t.readLogical()
    assert(out.count() == 15)
    assert(out.filter(col("v") >= 15.0).count() == 0)
    // the tombstones reference ONLY day-5 files: compact must carry the
    // day-1 file by name (tiny target → size is never the reason)
    val before = t.commits.find(_.version == 1).get.files.toSet
    t.compact(targetBytes = 1024)
    val after = t.commits.last.files.toSet
    assert(before.subsetOf(after), "un-referenced day-1 files must carry by name")
  }

  test("pos deletes compose with partition layout and a renamed column") {
    val t = new GraftTable(spark,
      TableDef("pd6", schema, partitions = Seq(IdentityTransform("grp"))),
      freshRoot("pd6"))
    t.append(df(0 until 8, "a", 1.0))
    t.append(df(8 until 12, "b", 2.0))
    t.renameColumn("v", "amount")
    t.deleteWhere(col("amount") === 1.0 && col("id") < 2) // condition on renamed col
    val out = t.readLogical()
    assert(out.count() == 10)
    assert(out.filter(col("id") < 2).count() == 0)
    t.compact() // migrates names AND materializes deletes
    assert(t.commits.last.posDeleteFiles.isEmpty)
    assert(t.readLogical().count() == 10)
    assert(t.read().filter(col("p_grp") === "a").count() == 6)
  }

  test("changelog delete-pos leg resolves renames landing AFTER the delete commit") {
    val t = new GraftTable(spark, TableDef("pd7", schema), freshRoot("pd7"))
    t.append(df(0 until 6, "a", 1.5)) // v1
    t.deleteWhere(col("id") < 2) // v2: pos-delete of ids 0,1
    t.renameColumn("v", "amount") // v3: rename lands INSIDE the range
    val ch = t.readChanges(1, 3)
    // the range-end schema names the column `amount`; the delete leg's
    // rows were stored under `v` and must still carry their values —
    // a predecessor-log resolution would null-fill them
    assert(ch.columns.contains("amount"))
    val dels = ch.filter(col("_change_type") === "delete").collect()
    assert(dels.length == 2)
    assert(dels.forall(r => r.getDouble(r.fieldIndex("amount")) == 1.5),
      "delete-pos rows lost the renamed column's values")
  }
}
