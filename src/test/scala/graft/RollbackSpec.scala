package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import graft.tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** rollback_to_snapshot + TIMESTAMP AS OF: a rollback is a new
  * metadata-only commit restoring an ancestor's live set, schema,
  * partition spec, per-file layout provenance, and tombstones; the bad
  * commits stay auditable; changelog consumers refuse across it (a
  * rollback has no derivable change set) and resync.
  */
class RollbackSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshRoot(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_rb_wh", name)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    Files.createDirectories(p)
    p.toString
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("ts", TimestampType),
    StructField("v", DoubleType)))

  private def df(ids: Range, day: Int, v: Double) = {
    import spark.implicits._
    ids.map(i => (i.toLong,
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"), v))
      .toDF("id", "ts", "v")
  }

  test("rollback undoes a bad batch; the bad snapshot stays time-travelable; expiry reclaims it") {
    val t = new GraftTable(spark, TableDef("rb1", schema), freshRoot("rb1"))
    t.append(df(0 until 10, 1, 1.0)) // v1
    t.append(df(10 until 20, 2, -99.0)) // v2: the bad batch
    t.rollback(1) // v3
    assert(t.currentVersion == 3)
    assert(t.commits.last.op == "rollback")
    assert(t.readLogical().count() == 10)
    assert(t.readLogical().filter(col("v") < 0).count() == 0)
    assert(t.readLogical(Some(2)).count() == 20, "the bad snapshot stays auditable")
    t.expireSnapshots(olderThanMs = -1L)
    assert(t.removeOrphans() > 0, "the bad batch's files reclaim after expiry")
    assert(t.readLogical().count() == 10)
  }

  test("rollback across schema + partition evolution restores both, with per-file provenance") {
    val t = new GraftTable(spark,
      TableDef("rb2", schema, partitions = Seq(DayTransform("ts"))), freshRoot("rb2"))
    t.append(df(0 until 6, 1, 1.0)) // v1: day layout, 3-col schema
    t.addColumns(StructField("w", DoubleType)) // v2
    t.evolvePartitioning(Seq(HourTransform("ts"))) // v3
    t.append(df(6 until 9, 2, 2.0).withColumn("w", lit(7.0))) // v4: hour layout
    t.rollback(1) // v5
    assert(t.currentSchema.fieldNames.toSeq == Seq("id", "ts", "v"))
    assert(t.currentPartitions.map(_.ddl) == Seq("day(ts)"))
    // single generation again: the physical read works and shows day cols
    assert(t.read().columns.contains("p_ts_day"))
    assert(t.readLogical().count() == 6)
    // writes resume under the restored spec
    t.append(df(9 until 11, 3, 3.0))
    assert(t.readLogical().count() == 8)
  }

  test("rollback after compaction migrated the layout restores the target's spec per file") {
    // the natural sequence: evolve (flags needsCompaction) → compact
    // (migrates the files off the head's provenance) → rollback to the
    // pre-evolution snapshot. The restored files are in NEITHER the
    // target's provenance map (pre-evolution: empty) NOR the head's
    // (compaction dropped them) — they must be stamped with the TARGET's
    // day spec, not the head's hour spec, or physical reads expose a
    // null p_* column and filters on it silently match nothing.
    val t = new GraftTable(spark,
      TableDef("rb4", schema, partitions = Seq(DayTransform("ts"))), freshRoot("rb4"))
    t.append(df(0 until 6, 1, 1.0)) // v1: day layout
    t.evolvePartitioning(Seq(HourTransform("ts"))) // v2
    assert(t.needsCompaction(), "evolution flags the layout migration")
    t.compact() // v3: migrates v1's files to hour layout (new files)
    t.rollback(1) // v4: restores v1's files — absent from v3's provenance
    assert(t.currentPartitions.map(_.ddl) == Seq("day(ts)"))
    val phys = t.read()
    assert(phys.columns.contains("p_ts_day"))
    // the restored files must read under the DAY layout: the partition
    // column is populated and filters on it match
    assert(phys.filter(col("p_ts_day").isNull).count() == 0,
      "restored files mis-stamped with the head's spec read a null partition column")
    assert(phys.filter(col("p_ts_day") === "2024-01-01").count() == 6)
    // and compaction after the rollback groups them under the right spec
    t.append(df(6 until 9, 1, 2.0)) // a second day-layout file
    t.compact()
    assert(t.readLogical().count() == 9)
  }

  test("rollback of a merge-on-read table keeps the restored files' sequence numbers") {
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toString).toSeq.sorted
    // with `compactFirst`, the head no longer holds the target's files:
    // they come back from the target's manifest entries, and stamping
    // them with the rollback's version would merge both upserts' rows
    // into one sequence group and serve a key's old and new rows
    Seq("rb5" -> false, "rb6" -> true).foreach { case (name, compactFirst) =>
      val t = new GraftTable(spark,
        TableDef(name, schema, keys = Seq("id"), mergeOnRead = true), freshRoot(name))
      t.append(df(0 until 10, 1, 1.0)) // v1
      t.upsert(df(0 until 6, 2, 2.0)) // v2
      t.upsert(df(3 until 8, 3, 3.0)) // v3: overlaps v2's keys
      val atV3 = rows(t.readLogical(Some(3)))
      assert(atV3.size == 10)
      t.append(df(10 until 12, 4, 4.0)) // v4
      if (compactFirst) t.compact() // v5: every live file rewritten
      t.rollback(3)
      assert(rows(t.readLogical()) == atV3, s"$name: rollback read")
      Thread.sleep(2)
      t.expireSnapshots(0L)
      assert(t.commits.size == 1)
      assert(rows(t.readLogical()) == atV3, s"$name: read after expiry")
    }
  }

  test("changelog refuses across a rollback; the CDC consumer resyncs via rebuild") {
    import graft.materialize.CdcAggConsumer
    val root = freshRoot("rb3")
    val cat = new TableCatalog(spark, root, Seq(
      TableDef("src", StructType(Seq(
        StructField("id", LongType), StructField("typ", StringType),
        StructField("value", DoubleType)))),
      TableDef("agg", StructType(Seq(
        StructField("typ", StringType), StructField("n", LongType),
        StructField("cents", LongType))), keys = Seq("typ"))))
    val src = cat.table("src")
    val c = new CdcAggConsumer(spark, src, cat.table("agg"), Seq("typ"), "value")
    import spark.implicits._
    src.append(Seq((1L, "x", 1.0), (2L, "y", 2.0)).toDF("id", "typ", "value"))
    c.poll()
    src.append(Seq((3L, "x", 5.0)).toDF("id", "typ", "value"))
    src.rollback(1)
    val e = intercept[IllegalArgumentException] { c.poll() }
    assert(e.getMessage.contains("not incrementally foldable"))
    c.rebuild()
    assert(cat.table("agg").readLogical().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("x" -> 1L, "y" -> 1L))
  }

  test("TIMESTAMP AS OF resolves the snapshot current at a time; refusals fire") {
    val t = new GraftTable(spark, TableDef("rb4", schema), freshRoot("rb4"))
    t.append(df(0 until 3, 1, 1.0))
    Thread.sleep(15)
    val between = System.currentTimeMillis()
    Thread.sleep(15)
    t.append(df(3 until 7, 2, 2.0))
    assert(t.versionAsOf(between) == 1)
    assert(t.readAsOfLogical(between).count() == 3)
    assert(t.versionAsOf(System.currentTimeMillis()) == 2)
    intercept[IllegalArgumentException] { t.versionAsOf(t.commits.head.tsMs - 1000) }
    intercept[IllegalArgumentException] { t.rollback(2) } // not an ancestor
    intercept[IllegalArgumentException] { t.rollback(99) }
  }
}
