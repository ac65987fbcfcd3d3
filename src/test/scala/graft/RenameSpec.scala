package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import graft.tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Column RENAME as a metadata-only commit (Iceberg's field-id rename,
  * re-expressed as versioned name provenance in the commit log): old
  * files serve their values under the new logical name immediately, time
  * travel reads each snapshot with ITS names, chained/reused names
  * resolve by version order, compaction migrates stale-named files, and
  * footer-stats consumers (range pruning, watermark reads) probe each
  * file's stored name.
  */
class RenameSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshRoot(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_ren_wh", name)
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

  test("rename is metadata-only; old and new files both serve the new name; time travel keeps old names") {
    val t = new GraftTable(spark, TableDef("rn1", schema), freshRoot("rn1"))
    t.append(df(0 until 5, 1, 1.0)) // v1: files store 'v'
    val filesBefore = t.commits.last.files.toSet
    t.renameColumn("v", "amount") // v2: metadata-only
    assert(t.commits.last.files.toSet == filesBefore, "rename rewrote data files")
    assert(t.currentSchema.fieldNames.toSeq == Seq("id", "ts", "amount"))
    t.append(df(5 until 8, 2, 2.0).withColumnRenamed("v", "amount")) // v3: stores 'amount'
    val out = t.readLogical()
    assert(out.columns.toSeq == Seq("id", "ts", "amount"))
    assert(out.count() == 8)
    // pre-rename files serve their values under the NEW name, not nulls
    assert(out.filter(col("amount") === 1.0).count() == 5)
    assert(out.filter(col("amount").isNull).count() == 0)
    // time travel: the pre-rename snapshot reads with ITS schema
    val v1 = t.readLogical(Some(1))
    assert(v1.columns.toSeq == Seq("id", "ts", "v"))
    assert(v1.filter(col("v") === 1.0).count() == 5)
  }

  test("chained renames and a freed-then-reused name resolve per file version") {
    val two = StructType(Seq(
      StructField("id", LongType),
      StructField("x", DoubleType),
      StructField("z", DoubleType)))
    val t = new GraftTable(spark, TableDef("rn2", two), freshRoot("rn2"))
    import spark.implicits._
    t.append(Seq((1L, 10.0, 100.0)).toDF("id", "x", "z")) // v1: stores x,z
    t.renameColumn("x", "y") // v2: x→y frees 'x'
    t.append(Seq((2L, 20.0, 200.0)).toDF("id", "y", "z")) // v3: stores y,z
    t.renameColumn("z", "x") // v4: z→x reuses the freed name
    t.append(Seq((3L, 30.0, 300.0)).toDF("id", "y", "x")) // v5: stores y,x
    assert(t.currentSchema.fieldNames.toSeq == Seq("id", "y", "x"))
    val rows = t.readLogical().orderBy("id").collect()
    assert(rows.map(_.getDouble(1)).toSeq == Seq(10.0, 20.0, 30.0), "logical y")
    assert(rows.map(_.getDouble(2)).toSeq == Seq(100.0, 200.0, 300.0), "logical x (was z)")
    // second-hop rename: y→w chains a→b→c for the v1 file
    t.renameColumn("y", "w")
    val w = t.readLogical().orderBy("id").collect()
    assert(w.map(_.getDouble(1)).toSeq == Seq(10.0, 20.0, 30.0))
  }

  test("rename of a column added mid-history: pre-add files still null-fill") {
    val t = new GraftTable(spark, TableDef("rn3", schema), freshRoot("rn3"))
    t.append(df(0 until 3, 1, 1.0)) // v1: no 'extra'
    t.addColumns(StructField("extra", DoubleType)) // v2
    t.append(df(3 until 5, 2, 2.0).withColumn("extra", lit(9.0))) // v3
    t.renameColumn("extra", "bonus") // v4
    val out = t.readLogical()
    assert(out.filter(col("bonus") === 9.0).count() == 2)
    assert(out.filter(col("bonus").isNull).count() == 3, "pre-add files null-fill under the new name")
  }

  test("physical read refuses stale-named files; compact migrates; drift check stays clean") {
    val root = freshRoot("rn4")
    val cat = new TableCatalog(spark, root, Seq(
      TableDef("rn4", schema, partitions = Seq(DayTransform("ts")))))
    val t = cat.table("rn4")
    t.append(df(0 until 6, 1, 1.0))
    t.renameColumn("v", "amount")
    assert(t.needsCompaction(), "stale-named files flag the migration")
    val e = intercept[IllegalArgumentException] { t.read() }
    assert(e.getMessage.contains("rename"))
    // drift check renders stored names as current — a rename is not drift
    cat.checkDrift()
    t.compact()
    assert(!t.needsCompaction())
    val phys = t.read() // single name epoch again
    assert(phys.columns.contains("amount") && !phys.columns.contains("v"))
    assert(phys.filter(col("amount") === 1.0).count() == 6)
    cat.checkDrift()
  }

  test("footer-stats consumers probe the stored name: range pruning and watermark survive a rename") {
    val t = new GraftTable(spark,
      TableDef("rn5", schema, sortOrder = Seq("id")), freshRoot("rn5"))
    t.append(df(0 until 10, 1, 1.0))
    t.append(df(10 until 20, 2, 2.0))
    t.renameColumn("ts", "event_ts")
    // watermark read through the renamed column: old files store 'ts'
    val mx = t.columnMaxMicros("event_ts")
    assert(mx.contains(
      java.sql.Timestamp.valueOf("2024-01-02 12:00:00").getTime * 1000L))
    // range read on the renamed column opens files and filters correctly
    val lo = java.sql.Timestamp.valueOf("2024-01-02 00:00:00").getTime * 1000L
    val hi = java.sql.Timestamp.valueOf("2024-01-02 23:59:59").getTime * 1000L
    val day2 = t.readRangeLogical("event_ts", lo, hi)
    assert(day2.columns.contains("event_ts"))
    assert(day2.filter(col("event_ts") >= lit("2024-01-02").cast("timestamp")).count() == 10)
  }

  test("changelog across a rename serves range-end names from pre-rename files") {
    val t = new GraftTable(spark, TableDef("rn6", schema), freshRoot("rn6"))
    t.append(df(0 until 4, 1, 1.0)) // v1
    t.renameColumn("v", "amount") // v2
    t.append(df(4 until 6, 2, 2.0).withColumnRenamed("v", "amount")) // v3
    val ch = t.readChanges(0, 3)
    assert(ch.columns.contains("amount"))
    assert(ch.filter(col("amount") === 1.0).count() == 4, "v1's delta reads its stored name")
    assert(ch.filter(col("amount") === 2.0).count() == 2)
    // pre-rename range end: v1-only changelog uses v1's schema/names
    val ch1 = t.readChanges(0, 1)
    assert(ch1.columns.contains("v") && ch1.count() == 4)
  }

  test("rollback across a rename restores the old schema and rename log") {
    val t = new GraftTable(spark, TableDef("rn7", schema), freshRoot("rn7"))
    t.append(df(0 until 4, 1, 1.0)) // v1
    t.renameColumn("v", "amount") // v2
    t.append(df(4 until 6, 2, 2.0).withColumnRenamed("v", "amount")) // v3
    t.rollback(1) // v4
    assert(t.currentSchema.fieldNames.toSeq == Seq("id", "ts", "v"))
    assert(t.readLogical().filter(col("v") === 1.0).count() == 4)
    // writes resume under the restored names; a fresh rename works
    t.append(df(6 until 8, 3, 3.0))
    t.renameColumn("v", "val2")
    assert(t.readLogical().filter(col("val2") === 3.0).count() == 2)
  }

  test("merge-on-read: rename composes with latest-wins across epochs") {
    val t = new GraftTable(spark,
      TableDef("rn8", schema, keys = Seq("id"), mergeOnRead = true), freshRoot("rn8"))
    t.upsert(df(0 until 6, 1, 1.0)) // v1: stores v
    t.renameColumn("v", "amount") // v2
    t.upsert(df(3 until 8, 2, 2.0).withColumnRenamed("v", "amount")) // v3: stores amount
    val out = t.readLogical()
    assert(out.count() == 8)
    assert(out.filter(col("amount") === 2.0).count() == 5, "revised keys win")
    assert(out.filter(col("amount") === 1.0).count() == 3)
    t.compact()
    assert(t.readLogical().filter(col("amount") === 2.0).count() == 5)
  }

  test("re-adding a dropped column must NOT resurrect dead values from old files") {
    val t = new GraftTable(spark, TableDef("rn11", schema), freshRoot("rn11"))
    t.append(df(0 until 4, 1, 7.0)) // v1: files physically store v=7.0
    t.dropColumns("v") // v2
    t.addColumns(StructField("v", DoubleType)) // v3: a NEW column, same name
    val out = t.readLogical()
    assert(out.filter(col("v").isNotNull).count() == 0,
      "old files' dead 'v' values leaked into the re-added column")
    t.append(df(4 until 6, 2, 2.0)) // v4: genuinely carries the new v
    val out2 = t.readLogical()
    assert(out2.filter(col("v") === 2.0).count() == 2)
    assert(out2.filter(col("v").isNull).count() == 4)
    // time travel: the pre-drop snapshot still serves the ORIGINAL values
    assert(t.readLogical(Some(1)).filter(col("v") === 7.0).count() == 4)
    // expiry retires the older commits, and the epoch resolution must
    // not change: each manifest entry carries its file's sequence
    // number, so the head alone resolves it
    Thread.sleep(2)
    t.expireSnapshots(0L)
    assert(t.readLogical().filter(col("v").isNull).count() == 4,
      "expiry destroyed the first-seen versions the epoch resolution needs")
    // compact migrates the epochs (materializes the nulls, drops the
    // dead bytes), and expiry then leaves the compacted head alone
    assert(t.needsCompaction(), "absent-epoch files must flag migration")
    t.compact()
    Thread.sleep(2)
    t.expireSnapshots(0L)
    assert(t.commits.size == 1)
    assert(t.readLogical().filter(col("v").isNull).count() == 4)
  }

  test("re-adding a renamed-away name must NOT alias the old column's data") {
    val t = new GraftTable(spark, TableDef("rn12", schema), freshRoot("rn12"))
    t.append(df(0 until 3, 1, 9.0)) // v1: stores 'v'
    t.renameColumn("v", "w") // v2: frees 'v'
    t.addColumns(StructField("v", DoubleType)) // v3: new column reuses the name
    val out = t.readLogical()
    // the RENAMED column still serves the old data; the re-added one is null
    assert(out.filter(col("w") === 9.0).count() == 3)
    assert(out.filter(col("v").isNotNull).count() == 0,
      "old files' 'v' data leaked into the re-added column instead of 'w'")
  }

  test("mixed-epoch logical read plans as a union of scans — no shuffle, no join") {
    val t = new GraftTable(spark, TableDef("rn10", schema), freshRoot("rn10"))
    t.append(df(0 until 4, 1, 1.0))
    t.renameColumn("v", "amount")
    t.append(df(4 until 6, 2, 2.0).withColumnRenamed("v", "amount"))
    val plan = t.readLogical().queryExecution.executedPlan.toString
    assert(plan.contains("Union"), plan)
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"rename resolution must stay a per-group scan+alias:\n$plan")
  }

  test("refusals: keys, partition sources, sort columns, collisions, bad names") {
    val t = new GraftTable(spark,
      TableDef("rn9", schema, partitions = Seq(DayTransform("ts")),
        keys = Seq("id"), sortOrder = Nil), freshRoot("rn9"))
    t.append(df(0 until 2, 1, 1.0))
    intercept[IllegalArgumentException] { t.renameColumn("id", "id2") }
    intercept[IllegalArgumentException] { t.renameColumn("ts", "ts2") }
    intercept[IllegalArgumentException] { t.renameColumn("v", "id") }
    intercept[IllegalArgumentException] { t.renameColumn("v", "p_ts_day") }
    intercept[IllegalArgumentException] { t.renameColumn("v", "bad|name") }
    intercept[IllegalArgumentException] { t.renameColumn("nope", "x") }
    val ts = new GraftTable(spark,
      TableDef("rn9s", schema, sortOrder = Seq("ts")), freshRoot("rn9s"))
    intercept[IllegalArgumentException] { ts.renameColumn("ts", "ts2") }
  }
}
