package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import graft.materialize.CdcAggConsumer
import graft.tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The changelog-maintained aggregate (M10): groups folded to zero
  * leave the view, replayed polls no-op (exactly-once via the sink
  * mark), non-foldable source commits and changelog gaps refuse with
  * rebuild() as the recovery, and random op histories folded at random
  * poll boundaries converge to the direct aggregate.
  */
class CdcConsumerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshRoot(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_cdc_wh", name)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    Files.createDirectories(p)
    p.toString
  }

  private val srcSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("typ", StringType),
    StructField("value", DoubleType)))

  private val aggSchema = StructType(Seq(
    StructField("typ", StringType),
    StructField("n", LongType),
    StructField("cents", LongType)))

  private def rig(name: String): (GraftTable, GraftTable, CdcAggConsumer) = {
    val cat = new TableCatalog(spark, freshRoot(name), Seq(
      TableDef("src", srcSchema),
      TableDef("agg", aggSchema, keys = Seq("typ"))))
    val src = cat.table("src")
    val mv = cat.table("agg")
    (src, mv, new CdcAggConsumer(spark, src, mv, Seq("typ"), "value"))
  }

  private def rows(xs: (Long, String, Double)*) = {
    import spark.implicits._
    xs.toDF("id", "typ", "value")
  }

  private def snapshot(mv: GraftTable): Map[String, (Long, Long)] =
    mv.readLogical().collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("deletes subtract; a group folded to zero leaves the view") {
    val (src, mv, c) = rig("zero")
    src.append(rows((1, "x", 1.0), (2, "x", 2.5), (3, "y", 4.0)))
    c.poll()
    assert(snapshot(mv) == Map("x" -> (2L, 350L), "y" -> (1L, 400L)))
    // change-tracked delete of ALL x rows (empty replacement)
    src.replaceWhere(col("typ") === "x", rows().limit(0), trackChanges = true)
    c.poll()
    assert(snapshot(mv) == Map("y" -> (1L, 400L)))
  }

  test("caught-up poll is a no-op; mark rides the merge commit") {
    val (src, mv, c) = rig("replay")
    src.append(rows((1, "x", 1.0)))
    assert(c.poll() == 1)
    assert(c.consumedVersion == 1L)
    assert(c.poll() == 0) // replay must not double-apply
    assert(snapshot(mv) == Map("x" -> (1L, 100L)))
    // the mark is IN the merge commit, not a side effect after it
    assert(mv.commits.last.sinkBatches.get("cdc:src").contains(1L))
  }

  test("non-foldable source commit refuses; rebuild() recovers and polling resumes") {
    val (src, mv, c) = rig("refuse")
    src.append(rows((1, "x", 1.0), (2, "y", 2.0)))
    c.poll()
    src.replaceWhere(col("typ") === "x", rows((1, "x", 9.0))) // UNTRACKED repair
    val e = intercept[IllegalArgumentException] { c.poll() }
    assert(e.getMessage.contains("not incrementally foldable"))
    c.rebuild()
    assert(snapshot(mv) == Map("x" -> (1L, 900L), "y" -> (1L, 200L)))
    src.append(rows((3, "y", 3.0))) // incremental service resumes post-rebuild
    c.poll()
    assert(snapshot(mv) == Map("x" -> (1L, 900L), "y" -> (2L, 500L)))
  }

  test("changelog gap refuses loudly; rebuild() is the resync") {
    val (src, mv, c) = rig("gap")
    src.append(rows((1, "x", 1.0)))
    c.poll()
    src.append(rows((2, "x", 2.0)))
    src.append(rows((3, "x", 3.0)))
    src.expireSnapshots(olderThanMs = -1L) // v1/v2 gone — (1, 3] now has a gap
    intercept[IllegalStateException] { c.poll() }
    c.rebuild()
    assert(snapshot(mv) == Map("x" -> (3L, 600L)))
  }

  private val mmAggSchema = StructType(Seq(
    StructField("typ", StringType),
    StructField("n", LongType),
    StructField("cents", LongType),
    StructField("min_cents", LongType),
    StructField("max_cents", LongType)))

  private def mmRig(name: String): (GraftTable, GraftTable, CdcAggConsumer) = {
    val cat = new TableCatalog(spark, freshRoot(name), Seq(
      TableDef("src", srcSchema),
      TableDef("agg", mmAggSchema, keys = Seq("typ"))))
    val src = cat.table("src")
    val mv = cat.table("agg")
    (src, mv, new CdcAggConsumer(spark, src, mv, Seq("typ"), "value",
      trackMinMax = true))
  }

  private def mmSnapshot(mv: GraftTable): Map[String, (Long, Long, Long, Long)] =
    mv.readLogical().collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap

  private def mmDirect(src: GraftTable): Map[String, (Long, Long, Long, Long)] = {
    val cents = round(col("value") * 100).cast("long")
    src.readLogical().groupBy("typ").agg(
      count(lit(1)).as("n"), sum(cents).as("cents"),
      min(cents).as("min_cents"), max(cents).as("max_cents"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
  }

  test("minmax: inserts fold extrema directly; interior deletes stay self-maintained") {
    val (src, mv, c) = mmRig("mm1")
    src.append(rows((1, "x", 1.0), (2, "x", 5.0), (3, "x", 3.0), (4, "y", 2.0)))
    c.poll()
    assert(mmSnapshot(mv) == Map(
      "x" -> (3L, 900L, 100L, 500L), "y" -> (1L, 200L, 200L, 200L)))
    // inserts extend both extrema without a recompute
    src.append(rows((5, "x", 0.5), (6, "x", 7.0)))
    c.poll()
    assert(mmSnapshot(mv)("x") == ((5L, 1650L, 50L, 700L)))
    // an INTERIOR delete (strictly inside the extrema) self-maintains
    src.deleteWhere(col("id") === 3) // x's 3.0 — min 0.5, max 7.0 untouched
    c.poll()
    assert(mmSnapshot(mv)("x") == ((4L, 1350L, 50L, 700L)))
    assert(mmSnapshot(mv) == mmDirect(src))
  }

  test("minmax: deleting an extremum re-aggregates ONLY the touched group") {
    val (src, mv, c) = mmRig("mm2")
    src.append(rows((1, "x", 1.0), (2, "x", 5.0), (3, "x", 3.0),
      (4, "y", 2.0), (5, "y", 9.0)))
    c.poll()
    src.deleteWhere(col("id") === 2) // x's max dies → x recomputes
    c.poll()
    assert(mmSnapshot(mv) == Map(
      "x" -> (2L, 400L, 100L, 300L), "y" -> (2L, 1100L, 200L, 900L)))
    // delete the MIN (duplicated value: one instance of two)
    src.append(rows((6, "x", 1.0))) // second 1.0
    src.deleteWhere(col("id") === 1) // one min instance dies; the dup remains
    c.poll()
    assert(mmSnapshot(mv)("x") == ((2L, 400L, 100L, 300L)))
    assert(mmSnapshot(mv) == mmDirect(src))
    // a group whose rows all die leaves the view
    src.deleteWhere(col("typ") === "y")
    c.poll()
    assert(mmSnapshot(mv).keySet == Set("x"))
  }

  test("minmax: a NEW group's append + partial delete consumed in one poll recomputes") {
    val (src, mv, c) = mmRig("mm4")
    // target has never seen "z"; its first poll window carries both the
    // inserts and a delete of one of them (n stays > 0). The __ins_*
    // extrema still include the deleted value, so self-maintaining from
    // them would be silently wrong — the consumer must take the
    // recompute leg.
    src.append(rows((1, "z", 9.0), (2, "z", 1.0), (3, "z", 4.0)))
    src.deleteWhere(col("id") === 1) // z's max (9.0) dies pre-first-poll
    c.poll()
    assert(mmSnapshot(mv) == Map("z" -> (2L, 500L, 100L, 400L)))
    assert(mmSnapshot(mv) == mmDirect(src))
    // same shape against a target that already holds OTHER groups
    src.append(rows((4, "w", 0.2), (5, "w", 6.0)))
    src.deleteWhere(col("id") === 4) // w's min dies in w's first window
    c.poll()
    assert(mmSnapshot(mv) == Map(
      "z" -> (2L, 500L, 100L, 400L), "w" -> (1L, 600L, 600L, 600L)))
    assert(mmSnapshot(mv) == mmDirect(src))
  }

  test("minmax: replayed polls no-op; rebuild carries the extrema; tracked replace folds") {
    val (src, mv, c) = mmRig("mm3")
    src.append(rows((1, "x", 1.0), (2, "x", 5.0)))
    assert(c.poll() == 1)
    assert(c.poll() == 0)
    // a change-tracked repair that replaces the max with a bigger value:
    // the delete touches the stored max → recompute leg; the insert is
    // in the same poll's delta
    src.replaceWhere(col("id") === 2, rows((2, "x", 8.0)), trackChanges = true)
    c.poll()
    assert(mmSnapshot(mv) == Map("x" -> (2L, 900L, 100L, 800L)))
    assert(mmSnapshot(mv) == mmDirect(src))
    c.rebuild()
    assert(mmSnapshot(mv) == mmDirect(src))
  }

  test("minmax property: random append/delete/replace histories converge to the direct aggregate") {
    for (seed <- Seq(11, 42)) {
      val rnd = new Random(seed)
      val (src, mv, c) = mmRig(s"mmprop$seed")
      val types = Vector("a", "b")
      var nextId = 0L
      for (_ <- 0 until 8) {
        val op = if (src.currentVersion == 0) 0 else rnd.nextInt(3)
        op match {
          case 0 =>
            val batch = (0 until (1 + rnd.nextInt(4))).map { _ =>
              nextId += 1
              (nextId, types(rnd.nextInt(types.size)), rnd.nextInt(1000) / 100.0)
            }
            src.append(rows(batch: _*))
          case 1 =>
            // random predicate delete — sometimes extremum, sometimes interior
            src.deleteWhere(col("value") >= lit(rnd.nextInt(10).toDouble))
          case _ =>
            // a replace refuses over pending position deletes (raw-file
            // rewrite) — compact first, the documented order
            if (src.commits.lastOption.exists(_.posDeleteFiles.nonEmpty))
              src.compact()
            val t = types(rnd.nextInt(types.size))
            nextId += 1
            src.replaceWhere(col("typ") === t,
              rows((nextId, t, rnd.nextInt(1000) / 100.0)), trackChanges = true)
        }
        if (rnd.nextDouble() < 0.5) c.poll()
      }
      c.poll()
      assert(mmSnapshot(mv) == mmDirect(src), s"seed $seed diverged")
    }
  }

  test("property: random append/tracked-replace histories at random poll boundaries converge") {
    for (seed <- Seq(7, 23)) {
      val rnd = new Random(seed)
      val (src, mv, c) = rig(s"prop$seed")
      val types = Vector("a", "b", "c")
      var nextId = 0L
      for (_ <- 0 until 8) {
        if (rnd.nextDouble() < 0.7 || src.currentVersion == 0) {
          val batch = (0 until (1 + rnd.nextInt(4))).map { _ =>
            nextId += 1
            (nextId, types(rnd.nextInt(types.size)), rnd.nextInt(1000) / 100.0)
          }
          src.append(rows(batch: _*))
        } else {
          val t = types(rnd.nextInt(types.size))
          val repl = if (rnd.nextBoolean()) rows((nextId + 1, t, 5.0)) else rows().limit(0)
          if (!repl.isEmpty) nextId += 1
          src.replaceWhere(col("typ") === t, repl, trackChanges = true)
        }
        if (rnd.nextDouble() < 0.5) c.poll()
      }
      c.poll()
      val direct = src.readLogical().groupBy("typ").agg(
        count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(snapshot(mv) == direct, s"seed $seed diverged")
    }
  }
}
