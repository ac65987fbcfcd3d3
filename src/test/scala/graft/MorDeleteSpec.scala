package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import graft.tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Merge-on-read equality deletes (Iceberg v2 delete files): deleteKeys
  * writes only a key-tombstone file (zero data rewritten), reads fold
  * tombstones into latest-wins sequence order, later upserts resurrect
  * keys, compaction materializes tombstones away, raw-read paths refuse
  * while tombstones are pending, the changelog serves FULL delete rows,
  * and orphan cleanup spares referenced tombstone files.
  */
class MorDeleteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshRoot(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_mord_wh", name)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    Files.createDirectories(p)
    p.toString
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("grp", StringType),
    StructField("v", DoubleType)))

  private def mor(name: String) = new GraftTable(spark,
    TableDef(name, schema, keys = Seq("id"), mergeOnRead = true), freshRoot(name))

  private def df(ids: Range, grp: String, v: Double) = {
    import spark.implicits._
    ids.map(i => (i.toLong, grp, v)).toDF("id", "grp", "v")
  }

  test("delete is O(keys): no data files rewritten; reads drop the keys; time travel still sees them") {
    val t = mor("d1")
    t.upsert(df(0 until 10, "a", 1.0))
    val dataFiles = t.commits.last.files.toSet
    t.deleteKeys(df(0 until 3, "x", 0.0)) // only ids matter
    assert(t.commits.last.files.toSet == dataFiles, "tombstone must not touch data files")
    assert(t.commits.last.op == "delete-mor")
    assert(t.readLogical().count() == 7)
    assert(t.readLogical().filter(col("id") < 3).count() == 0)
    assert(t.readLogical(Some(1)).count() == 10) // pre-delete snapshot intact
  }

  test("a later upsert resurrects a deleted key; an earlier delete never kills newer data") {
    val t = mor("d2")
    t.upsert(df(0 until 5, "a", 1.0)) // v1
    t.deleteKeys(df(0 until 2, "x", 0.0)) // v2 kills 0,1
    t.upsert(df(1 until 3, "b", 2.0)) // v3 resurrects 1, revises 2
    val out = t.readLogical().collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "b", 2L -> "b", 3L -> "a", 4L -> "a"))
  }

  test("compaction materializes tombstones; needsCompaction flags pending deletes") {
    val t = mor("d3")
    t.upsert(df(0 until 6, "a", 1.0))
    assert(!t.needsCompaction())
    t.deleteKeys(df(0 until 2, "x", 0.0))
    assert(t.needsCompaction(), "pending tombstones must flag compaction")
    val before = t.readLogical().collect().toSet
    t.compact()
    assert(!t.needsCompaction())
    assert(t.commits.last.morDeleteFiles.isEmpty)
    assert(t.readLogical().collect().toSet == before, "compaction must be invisible")
  }

  test("raw-read and replace paths refuse while tombstones are pending") {
    val t = mor("d4")
    t.upsert(df(0 until 4, "a", 1.0))
    t.compact() // single sequence — range reads would be legal
    t.deleteKeys(df(0 until 1, "x", 0.0))
    intercept[IllegalArgumentException] { t.readRangeLogical("id", 0L, 10L) }
    intercept[IllegalArgumentException] {
      t.replaceWhere(col("grp") === "a", df(0 until 1, "z", 9.0))
    }
    t.compact()
    assert(t.readRangeLogical("v", Long.MinValue, Long.MaxValue).count() == 3)
  }

  test("changelog serves FULL delete rows from the predecessor snapshot") {
    val t = mor("d5")
    t.upsert(df(0 until 4, "a", 1.5)) // v1
    t.deleteKeys(df(1 until 3, "x", 0.0)) // v2
    val ch = t.readChanges(1, 2).collect()
    assert(ch.length == 2)
    assert(ch.forall(_.getString(4) == "delete")) // _change_type
    // not key-only stubs: the deleted rows carry their real values
    assert(ch.forall(r => r.getString(1) == "a" && r.getDouble(2) == 1.5))
    assert(ch.map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("tombstone files survive orphan cleanup while referenced, reclaim after expiry") {
    val t = mor("d6")
    t.upsert(df(0 until 5, "a", 1.0))
    t.deleteKeys(df(0 until 2, "x", 0.0))
    assert(t.removeOrphans() == 0, "a referenced tombstone is not an orphan")
    assert(t.readLogical().count() == 3)
    t.compact()
    t.expireSnapshots(olderThanMs = -1L) // only the compacted head survives
    assert(t.removeOrphans() > 0) // old data files + the tombstone
    assert(t.readLogical().count() == 3)
  }

  test("deleteKeys refuses on copy-on-write tables") {
    val t = new GraftTable(spark,
      TableDef("d7", schema, keys = Seq("id")), freshRoot("d7"))
    t.upsert(df(0 until 3, "a", 1.0))
    intercept[IllegalArgumentException] { t.deleteKeys(df(0 until 1, "x", 0.0)) }
  }
}
