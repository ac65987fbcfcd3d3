package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Adversarial hot-key pin for the funnel join path (round-9 task #6):
  * ONE user holds 10% of ALL events across every stage — the classic
  * power-user/bot key that makes a chained-outer-join funnel
  * materialize a per-key product (hot_views × hot_clicks × hot_buys).
  * The shipped j3/j7 rows must (a) stay row-identical to the literal
  * chained-join semantics on this data and (b) keep their left-semi
  * plan shape, whose per-key work is linear in the key's rows. The
  * timing at volume (hot vs benign side by side) is a dated record in
  * SCALING.md's rtb section; this spec pins the semantics and the
  * shape, which is what makes that timing hold.
  *
  * (v_event_enriched_full_funnel has no analogous trap: its funnel
  * keys are per-event UNIQUE ids — fan-out is bounded by the 3%
  * duplicate rate — and a hot PUBLISHER only touches broadcast dim
  * joins, which shuffle nothing.)
  */
class FunnelSkewSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // 10k events, hot user 424242 holding ~10% of every stage; the rest
  // spread over 900 users. Timestamps keep each user's stages inside
  // the j3 match windows so the hot key's full depth is exercised.
  private lazy val hotDir: String = {
    import spark.implicits._
    val t0 = Timestamp.valueOf("2024-03-01 00:00:00").getTime
    val types = Seq("signup", "view", "click", "purchase")
    val rows = (0L until 10000L).map { i =>
      val user = if (i % 10 == 0) 424242L else 1000L + (i % 900)
      val typ = types((i % 4).toInt)
      // stage times ascend within a user's little funnel window
      val ts = new Timestamp(t0 + (i / 4) * 60000 + (i % 4) * 100 * 1000)
      (i, ts, user, typ, (i % 97).toDouble)
    }
    val dir = Files.createTempDirectory("graft_funnel_skew").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .repartition(8).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("j3 de-skewed semi form == literal chained-LEFT-join SQL on the hot key") {
    val semi = SparkEntry.queries("j3_funnel_4stage")(spark, hotDir)
    Tables(spark, hotDir).events.createOrReplaceTempView("skew_events")
    // the oracle's own text, run by Spark over the same rows — the
    // reference-literal semantics, product fan-out and all
    val naive = spark.sql(
      """WITH s AS (SELECT user_id, event_id AS signup_id, ts AS s_ts
        |           FROM skew_events WHERE event_type = 'signup'),
        |     v AS (SELECT user_id AS v_user_id, event_id AS view_id, ts AS v_ts
        |           FROM skew_events WHERE event_type = 'view'),
        |     c AS (SELECT user_id AS c_user_id, event_id AS click_id, ts AS c_ts
        |           FROM skew_events WHERE event_type = 'click'),
        |     p AS (SELECT user_id AS p_user_id, event_id AS purchase_id, ts AS p_ts
        |           FROM skew_events WHERE event_type = 'purchase')
        |SELECT user_id,
        |       count(DISTINCT signup_id) AS n_signups,
        |       count(DISTINCT CASE WHEN view_id     IS NOT NULL THEN signup_id END) AS n_viewed,
        |       count(DISTINCT CASE WHEN click_id    IS NOT NULL THEN signup_id END) AS n_clicked,
        |       count(DISTINCT CASE WHEN purchase_id IS NOT NULL THEN signup_id END) AS n_converted
        |FROM s
        |LEFT JOIN v ON user_id = v_user_id
        |            AND v_ts >= s_ts AND v_ts <= s_ts + INTERVAL 7 DAY
        |LEFT JOIN c ON v_user_id = c_user_id
        |            AND c_ts >= v_ts AND c_ts <= v_ts + INTERVAL 30 MINUTE
        |LEFT JOIN p ON c_user_id = p_user_id
        |            AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 2 HOUR
        |GROUP BY user_id""".stripMargin)
    assert(semi.exceptAll(naive).count() == 0 && naive.exceptAll(semi).count() == 0,
      "de-skewed funnel diverges from the literal chained-join semantics on hot-key data")
    val hot = semi.filter(col("user_id") === 424242L).collect()
    assert(hot.length == 1 && hot.head.getLong(1) > 200,
      s"hot key missing or implausibly small: ${hot.mkString}")
  }

  test("j3/j7 keep the linear-per-key plan shape on the hot-key table") {
    for (name <- Seq("j3_funnel_4stage", "j7_funnel_chain")) {
      val plan = SparkEntry.queries(name)(spark, hotDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name fell back to a product plan on skewed data:\n$plan")
      // no OUTER join may carry a time-range condition — that is the
      // per-key product shape; ranges belong to the semi-join stages
      val rangyOuter = plan.linesIterator.exists(l =>
        l.contains("LeftOuter") && (l.contains("_ts") || l.contains("INTERVAL")))
      assert(!rangyOuter, s"$name retains a range-condition outer join:\n$plan")
    }
  }
}
