package graft.operators

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import graft.QueryDef
import graft.materialize.{CdcAggConsumer, FactBound, MatView, Materializer}
import graft.tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** M1–M4 driven end to end through the oracle: an hourly aggregate view
  * is materialized INCREMENTALLY — first run on an incomplete prefix of
  * the facts (with a deterministic subset withheld as "late arrivals"),
  * second run after the stragglers and the new tail land — and the final
  * mat table must hash-match DuckDB's single-shot full recompute. A
  * wrong watermark bound, a lookback repair that misses drifted windows,
  * or a double-counting append all fail the compare.
  */
object MaterializeOps {

  private def scratch(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_warehouse", name)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    Files.createDirectories(p)
    p.toString
  }

  private[graft] val eventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private val matSchema = StructType(Seq(
    StructField("window_start", TimestampType),
    StructField("event_type", StringType),
    StructField("n", LongType),
    StructField("total_value", DoubleType)))

  private def hourlyView: MatView = MatView(
    name = "hourly_events",
    tsCol = "window_start",
    keyCols = Seq("window_start", "event_type"),
    compute = facts => facts
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"), col("total_value")),
    // hourly tumbling window: a view row at T derives only from facts in
    // [T, T+1h) — so repair/append passes scan the window, not the table
    factBound = Some(FactBound("ts", "1 hour")))

  /** M1+M2+M3+M4 — two-pass incremental materialization == full recompute. */
  val m4IncrementalMatview: QueryDef = QueryDef(
    "m4_incremental_matview",
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
      |       event_type, count(*) AS n,
      |       round(sum(value), 2) AS total_value
      |FROM events GROUP BY 1, 2""".stripMargin) { t =>
    val wh = scratch("m4")
    // day-partitioning the mat table (reference tables are day-partitioned,
    // bid_requests.yml:44-48) clusters files on window_start, so the M4
    // repair's footer-stats pruning rewrites only the drifted days
    val cat = new TableCatalog(t.spark, wh, Seq(
      TableDef("events_src", eventsSchema),
      TableDef("mat_hourly", matSchema, partitions = Seq(DayTransform("window_start")),
        keys = Seq("window_start", "event_type")),
      Materializer.watermarkTableDef))
    val src = cat.table("events_src")
    val mzr = new Materializer(t.spark, src, hourlyView,
      cat.table("mat_hourly"), cat.table("materialization_watermarks"))

    val ev = t.events.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"))
    val cutoff = lit("2024-01-20").cast("timestamp")
    // "late" stragglers: a deterministic slice of mid-January events that
    // only arrives after the first materialization run
    val late = col("ts") >= lit("2024-01-14").cast("timestamp") &&
      col("ts") < lit("2024-01-17").cast("timestamp") && col("event_id") % 7 === 0

    src.append(ev.filter(col("ts") < cutoff && !late))
    mzr.run() // first run → full CTAS + watermark
    src.append(ev.filter(col("ts") >= cutoff || late))
    mzr.run(lookback = "10 days") // repair the drifted windows + append the tail
    cat.table("mat_hourly").readLogical()
  }

  /** M6 — stale-row repair through the oracle: the second batch's
    * stragglers land ~2 weeks BEHIND the advanced watermark, far outside
    * the 48 h lookback, so only the stale-repair pass (wide detection
    * window, key-level delete+re-insert) can converge the mat table to
    * DuckDB's single-shot recompute. A lookback-only materializer fails
    * this hash compare.
    */
  val m6StaleRepair: QueryDef = QueryDef(
    "m6_stale_repair_matview",
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
      |       event_type, count(*) AS n,
      |       round(sum(value), 2) AS total_value
      |FROM events GROUP BY 1, 2""".stripMargin) { t =>
    val wh = scratch("m6")
    val cat = new TableCatalog(t.spark, wh, Seq(
      TableDef("events_src", eventsSchema),
      TableDef("mat_hourly", matSchema, partitions = Seq(DayTransform("window_start")),
        keys = Seq("window_start", "event_type")),
      Materializer.watermarkTableDef))
    val src = cat.table("events_src")
    val mzr = new Materializer(t.spark, src, hourlyView,
      cat.table("mat_hourly"), cat.table("materialization_watermarks"))

    val ev = t.events.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"))
    val cutoff = lit("2024-01-25").cast("timestamp")
    // stragglers from the FIRST third of the month — beyond any lookback
    // from the post-cutoff watermark
    val late = col("ts") < lit("2024-01-10").cast("timestamp") && col("event_id") % 5 === 0

    src.append(ev.filter(col("ts") < cutoff && !late))
    mzr.run()
    src.append(ev.filter(col("ts") >= cutoff || late))
    mzr.run(lookback = "48 hours", staleDetectionWindow = Some("40 days"))
    cat.table("mat_hourly").readLogical()
  }

  /** M5 — dimension repair through the oracle: the per-user view is
    * enriched from a deterministic user dim; between the two runs every
    * third user's segment SHIFTS (an SCD2 version landing), and the
    * second run is told exactly the changed keys. The oracle recomputes
    * with the FINAL dim, so a materializer that fails to re-enrich the
    * changed users' historical rows fails the hash compare.
    */
  val m5DimRepair: QueryDef = QueryDef(
    "m5_dim_repair_matview",
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
      |       user_id,
      |       CASE WHEN user_id % 3 = 0 THEN 'SHIFTED'
      |            ELSE concat('SEG', CAST(user_id % 4 AS VARCHAR)) END AS segment,
      |       count(*) AS n,
      |       round(sum(value), 2) AS total_value
      |FROM events GROUP BY 1, 2, 3""".stripMargin) { t =>
    val wh = scratch("m5")
    val enrichedSchema = StructType(Seq(
      StructField("window_start", TimestampType),
      StructField("user_id", LongType),
      StructField("segment", StringType),
      StructField("n", LongType),
      StructField("total_value", DoubleType)))
    // the dim "version" the view closure reads — flipped between runs,
    // simulating an SCD2 version landing in the dim table
    var shifted = false
    val view = MatView(
      name = "hourly_enriched",
      tsCol = "window_start",
      keyCols = Seq("window_start", "user_id"),
      compute = facts => {
        val dim = facts.select(col("user_id")).distinct()
          .withColumn("segment",
            when(lit(shifted) && col("user_id") % 3 === 0, lit("SHIFTED"))
              .otherwise(concat(lit("SEG"), (col("user_id") % 4).cast("string"))))
        facts.join(broadcast(dim), Seq("user_id"))
          .groupBy(window(col("ts"), "1 hour"), col("user_id"), col("segment"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
          .select(col("window.start").as("window_start"),
            col("user_id"), col("segment"), col("n"), col("total_value"))
      },
      factBound = Some(FactBound("ts", "1 hour")),
      // user_id passes through the aggregation unchanged → the M5 dim
      // repair re-aggregates only the changed users' facts
      passthroughKeys = Seq("user_id"))
    val cat = new TableCatalog(t.spark, wh, Seq(
      TableDef("events_src", eventsSchema),
      TableDef("mat_enriched", enrichedSchema,
        partitions = Seq(DayTransform("window_start")),
        keys = Seq("window_start", "user_id")),
      Materializer.watermarkTableDef))
    val src = cat.table("events_src")
    val mzr = new Materializer(t.spark, src, view,
      cat.table("mat_enriched"), cat.table("materialization_watermarks"))

    val ev = t.events.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"))
    val cutoff = lit("2024-01-20").cast("timestamp")
    src.append(ev.filter(col("ts") < cutoff))
    mzr.run() // materialized with the PRE-shift dim
    shifted = true // the dim version lands
    src.append(ev.filter(col("ts") >= cutoff))
    val changedKeys = src.readLogical().select(col("user_id"))
      .filter(col("user_id") % 3 === 0).distinct()
    mzr.run(changedDimKeys = Some(changedKeys))
    cat.table("mat_enriched").readLogical()
  }

  /** M10 — CHANGELOG-maintained aggregate (the Delta-CDF consumer
    * pattern): a per-type count+cents view is kept current by folding
    * each source commit's insert/delete rows — two append polls, then a
    * change-tracked repair (error values zeroed) whose deletes SUBTRACT
    * the old rows and whose inserts add the replacements, with the
    * consumed source version riding each merge commit atomically
    * (exactly-once; a replayed poll no-ops). Unlike M4–M6 the consumer
    * never rereads the source: a repair costs O(changed rows). The
    * DuckDB oracle recomputes the aggregate single-shot from the final
    * logical state — a sign error, a lost delete, a double-applied
    * poll, or a leaked zero-count group all fail the hash compare.
    */
  /** One oracle for both CDC-consumer shapes (batch m10 + streamed
    * twin): the final aggregate after the error repair zeroed money.
    */
  private[graft] val cdcAggOracleSql: String =
    """SELECT event_type, count(*) AS n,
      |       CAST(sum(CASE WHEN event_type = 'error' THEN 0
      |                     ELSE CAST(round(value * 100) AS BIGINT) END)
      |            AS BIGINT) AS cents
      |FROM events GROUP BY 1""".stripMargin

  private[graft] val cdcAggSchema = StructType(Seq(
    StructField("event_type", StringType),
    StructField("n", LongType),
    StructField("cents", LongType)))

  val m10CdcMatview: QueryDef = QueryDef(
    "m10_cdc_matview", cdcAggOracleSql) { t =>
    val wh = scratch("m10")
    val aggSchema = cdcAggSchema
    val cat = new TableCatalog(t.spark, wh, Seq(
      TableDef("cdc_src", eventsSchema),
      TableDef("agg_by_type", aggSchema, keys = Seq("event_type"))))
    val src = cat.table("cdc_src")
    val mv = cat.table("agg_by_type")
    val consumer = new CdcAggConsumer(t.spark, src, mv,
      groupCols = Seq("event_type"), valueCol = "value")

    val ev = t.events.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"))
    val cut = lit("2024-01-16").cast("timestamp")
    src.append(ev.filter(col("ts") < cut))                         // v1
    consumer.poll()
    src.append(ev.filter(col("ts") >= cut))                        // v2
    src.replaceWhere(col("event_type") === "error",                // v3 (tracked)
      ev.filter(col("event_type") === "error").withColumn("value", lit(0.0)),
      trackChanges = true)
    consumer.poll()
    consumer.poll() // caught up — must be a no-op, not a double-apply
    mv.readLogical()
  }

  /** M11 — the CDC consumer with MIN/MAX (the hybrid that closes the
    * classic incremental-view-maintenance limit): COUNT/SUM fold ±, and
    * extrema self-maintain under inserts (`least`/`greatest`) — a poll
    * re-aggregates FROM SOURCE only the groups where a delete touched
    * the stored extremum (the reference's aggregation jobs carry
    * MIN/MAX metric columns, aggregation_jobs.sql:24-55). Exercised
    * through both delete paths: a `delete-pos` predicate delete that
    * removes each type's TOP values (forces the recompute leg) and a
    * second that removes an interior band (stays self-maintained),
    * plus an append after the deletes (insert-only extrema fold). The
    * DuckDB oracle recomputes count/sum/min/max single-shot from the
    * final state — a recompute leg that scanned the wrong keys, a
    * stale extremum, or a double-applied poll all fail the hash.
    */
  val m11CdcMinmax: QueryDef = QueryDef(
    "m11_cdc_minmax",
    """SELECT event_type, count(*) AS n,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
      |       CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS min_cents,
      |       CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_cents
      |FROM events
      |WHERE NOT (value > 300) AND NOT (value >= 100 AND value <= 110)
      |GROUP BY 1""".stripMargin) { t =>
    val wh = scratch("m11")
    val aggSchema = StructType(Seq(
      StructField("event_type", StringType),
      StructField("n", LongType),
      StructField("cents", LongType),
      StructField("min_cents", LongType),
      StructField("max_cents", LongType)))
    val cat = new TableCatalog(t.spark, wh, Seq(
      TableDef("cdc_src_mm", eventsSchema),
      TableDef("agg_minmax", aggSchema, keys = Seq("event_type"))))
    val src = cat.table("cdc_src_mm")
    val mv = cat.table("agg_minmax")
    val consumer = new CdcAggConsumer(t.spark, src, mv,
      groupCols = Seq("event_type"), valueCol = "value", trackMinMax = true)

    val ev = t.events.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"))
    val cut = lit("2024-01-16").cast("timestamp")
    src.append(ev.filter(col("ts") < cut))                         // v1
    consumer.poll()
    src.deleteWhere(col("value") > 300)                            // v2: extremum deletes
    src.deleteWhere(col("value") >= 100 && col("value") <= 110)    // v3: interior band
    consumer.poll()
    src.append(ev.filter(col("ts") >= cut)                         // v4: post-delete inserts
      .filter(!(col("value") > 300))
      .filter(!(col("value") >= 100 && col("value") <= 110)))
    consumer.poll()
    consumer.poll() // caught up — must be a no-op, not a double-apply
    mv.readLogical()
  }

  val all: Seq[QueryDef] =
    Seq(m4IncrementalMatview, m5DimRepair, m6StaleRepair, m10CdcMatview,
      m11CdcMinmax)
}
