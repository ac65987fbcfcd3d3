package graft.operators

import graft.QueryDef
import org.apache.spark.sql.SparkSession

/** X3 — the reference's SQL surface replayed VERBATIM: register the
  * queryable tables under their reference names (`create_tables.sql` /
  * insert-job targets: the four flat event streams, every `v_*` Trino
  * view, the two `dq_*` tables) as temp views in the session catalog,
  * then run the literal text of `scripts/query-examples.sh` #13
  * (lines 148-161, the 4-table LEFT-JOIN full-funnel summary) through
  * `spark.sql`. The other 18 example queries are pinned semantically by
  * the `qx*`/`v_*`/`dash*` rows; this row pins the TEXTUAL surface — a
  * user pasting the reference's SQL against the registered catalog gets
  * the reference's answer with no rewriting.
  *
  * Scale shape: pure view registration (lazy frames — nothing executes
  * at register time) + one scan → hash-join chain → distinct-count
  * aggregate, exactly #13's own shape; the four distinct counts plan as
  * one Expand over the joined stream, never a per-count re-scan.
  */
object SqlSurfaceOps {

  import RtbOracleOps.{root, ensureData}

  /** Register the four flat event streams under their reference table
    * names. The streams use the standing fixture discipline (the
    * fixture injects 3% byte-identical duplicate deliveries to exercise
    * the dedup operators; the reference's DEFAULT generator emits none,
    * so each stream is collapsed to one row per event id — see
    * [[ExampleQueryOps]]'s deviation notes).
    */
  def registerBaseStreams(spark: SparkSession): Unit = {
    ensureData(spark)
    // EXACTLY the landed schemas — column list and order per
    // iceberg/tables/bid_requests.yml:5-45 / bid_responses.yml:5-35 —
    // so a pasted `SELECT *` or DESCRIBE against these names matches
    // the reference table, not a widened internal superset (a dual-name
    // projection used to pass the 19 examples only because each text
    // names its columns). Pure projection — nothing executes at
    // register time.
    landedBidRequests(spark).createOrReplaceTempView("bid_requests")
    landedBidResponses(spark).createOrReplaceTempView("bid_responses")
    spark.read.parquet(s"$root/impressions").dropDuplicates("impression_id")
      .createOrReplaceTempView("impressions")
    spark.read.parquet(s"$root/clicks").dropDuplicates("click_id")
      .createOrReplaceTempView("clicks")
  }

  /** The clean flat request stream projected to bid_requests.yml's
    * landed schema (21 columns, yml order).
    */
  private[operators] def landedBidRequests(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    ExampleQueryOps.br(spark).select(
      col("request_id"), col("imp_id"),
      col("imp_banner_w"), col("imp_banner_h"), col("imp_bidfloor"),
      col("property_id").as("site_id"),
      col("property_domain").as("site_domain"),
      col("content_cat").as("site_cat"),
      col("publisher_id"), col("device_type"), col("device_os"),
      col("device_geo_country"), col("device_geo_region"), col("user_id"),
      col("auction_type"), col("tmax"), col("currency"),
      col("is_coppa"), col("is_gdpr"),
      col("event_ts").as("event_timestamp"),
      col("received_ts").as("received_at"))
  }

  /** The flat per-bid response stream projected to bid_responses.yml's
    * landed schema (16 columns, yml order).
    */
  private[operators] def landedBidResponses(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    ExampleQueryOps.bids(spark).select(
      col("response_id"), col("request_id"),
      col("bidder_id").as("seat"),
      col("bid_id"), col("imp_id"), col("bid_price"), col("creative_id"),
      col("deal_id"), col("ad_domain"), col("campaign_id"),
      col("line_item_id"), col("strategy_id"), col("advertiser_id"),
      col("agency_id"), col("currency"),
      col("event_ts").as("event_timestamp"))
  }

  /** Register the FULL reference surface: the base streams plus every
    * `v_*` view and `dq_*` table, straight from the registry so the
    * view surface can never drift from the oracle-checked definitions.
    * One-time catalog setup (each frame construction is an eager
    * analyzer pass over a wide plan — ~19 of them), so the bench-timed
    * x3 row registers only the streams #13 reads; this full form is
    * SqlSurfaceSpec's pin and the entry point a user replaying
    * arbitrary reference SQL would call once per session.
    */
  def registerSurface(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions.col
    registerBaseStreams(spark)
    for (q <- graft.SparkEntry.registry
         if q.name.startsWith("v_") || q.name.startsWith("dq_"))
      q.fn(spark, sfDir).createOrReplaceTempView(q.name)
    // The reference's materialized ANALYTICS TABLE names (what
    // query-examples #17-#19 actually read — the Iceberg upsert-agg
    // targets, not the v_ prefixed Trino views): each is the
    // corresponding oracle-checked registry frame projected to the
    // table's landed schema (iceberg/tables/{bid_landscape_hourly,
    // realtime_serving_metrics_1m,funnel_leakage_hourly}.yml). The
    // leakage table renames the view's hour_start to window_start and
    // drops the name/vertical dims — both are functions of
    // publisher_id, so the projection preserves the table's grain.
    graft.SparkEntry.queries("v_bid_landscape_hourly")(spark, sfDir)
      .createOrReplaceTempView("bid_landscape_hourly")
    graft.SparkEntry.queries("v_realtime_serving_metrics_1m")(spark, sfDir)
      .createOrReplaceTempView("realtime_serving_metrics_1m")
    graft.SparkEntry.queries("v_agg_funnel_leakage")(spark, sfDir)
      .withColumnRenamed("hour_start", "window_start")
      .select(col("window_start"), col("publisher_id"),
        col("requests_no_response"), col("responses_no_impression"),
        col("impressions_no_click"), col("response_leakage_rate"),
        col("impression_leakage_rate"), col("click_leakage_rate"))
      .createOrReplaceTempView("funnel_leakage_hourly")
  }

  /** Names the verbatim surface adds beyond the registry's own
    * `v_`/`dq_` rows: the four flat event streams plus the three
    * materialized analytics tables above.
    */
  val extraSurfaceNames: Seq[String] = Seq(
    "bid_requests", "bid_responses", "impressions", "clicks",
    "bid_landscape_hourly", "realtime_serving_metrics_1m",
    "funnel_leakage_hourly")

  /** Materialize `bid_requests` as a real snapshot-logged GraftTable
    * under [[graft.tables.MetaCatalog.DefaultWarehouse]], so example
    * #8's metadata-table read (`iceberg.db."bid_requests$$snapshots"`)
    * serves genuine commit history. Two appends (the reference's
    * checkpointed commit cadence) split on request_id parity —
    * deterministic and idempotent (a second commit this build can read
    * is the completion marker; serial-suite assumption as elsewhere).
    */
  def ensureLakehouse(spark: SparkSession): Unit = {
    import graft.tables.{GraftTable, MetaCatalog, TableDef}
    val wh = MetaCatalog.DefaultWarehouse
    if (scala.util.Try(new GraftTable(spark, TableDef("bid_requests",
        org.apache.spark.sql.types.StructType(Nil)), wh).head.version >= 2).getOrElse(false)) return
    // completion marker absent → wipe any partial state before building
    // (a crash between the two appends would otherwise leave a
    // permanently half-populated table in the cross-JVM /tmp warehouse;
    // same discipline as the probe fixtures)
    graft.FsUtil.deleteRecursively(java.nio.file.Paths.get(s"$wh/bid_requests"))
    ensureData(spark)
    val br = landedBidRequests(spark)
    val tbl = new GraftTable(spark,
      TableDef("bid_requests", br.schema), wh)
    locally {
      // request_id is a string ("req-<hex>-<seq>"); split on the stable
      // hash's parity — deterministic, roughly even halves
      val half = org.apache.spark.sql.functions
        .pmod(org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.col("request_id")),
          org.apache.spark.sql.functions.lit(2L))
      tbl.append(br.filter(half === 0))
      tbl.append(br.filter(half === 1))
    }
  }

  /** scripts/query-examples.sh:150-161, byte-for-byte (the string the
    * reference passes to `trino --execute`).
    */
  private val example13 =
    """SELECT COUNT(DISTINCT br.request_id) AS requests,
      |          COUNT(DISTINCT resp.request_id) AS responses,
      |          COUNT(DISTINCT imp.impression_id) AS impressions,
      |          COUNT(DISTINCT clk.click_id) AS clicks,
      |          ROUND(CAST(COUNT(DISTINCT resp.request_id) AS DOUBLE) / COUNT(DISTINCT br.request_id) * 100, 2) AS fill_rate_pct,
      |          ROUND(CAST(COUNT(DISTINCT imp.impression_id) AS DOUBLE) / NULLIF(COUNT(DISTINCT resp.request_id), 0) * 100, 2) AS win_rate_pct,
      |          ROUND(CAST(COUNT(DISTINCT clk.click_id) AS DOUBLE) / NULLIF(COUNT(DISTINCT imp.impression_id), 0) * 100, 2) AS ctr_pct
      |   FROM bid_requests br
      |   LEFT JOIN bid_responses resp ON br.request_id = resp.request_id
      |   LEFT JOIN impressions imp ON br.request_id = imp.request_id
      |   LEFT JOIN clicks clk ON imp.impression_id = clk.impression_id""".stripMargin

  val x3SqlSurface: QueryDef = QueryDef(
    "x3_sql_surface",
    // the same funnel restated over the raw fixture: br is the shared
    // clean per-imp CTE, responses/bids double-unnested (a response
    // with no bids is absent from the flat view in both engines), and
    // each stream id-deduplicated — distinct counts are grain-invariant,
    // so the per-bid fan-out of the joined stream cannot move them
    s"""${ExampleQueryOps.brSql},
       |s AS (SELECT id AS response_id, ext['request_id'] AS request_id,
       |             unnest(seatbid) AS sb
       |      FROM (SELECT DISTINCT id, ext, seatbid
       |            FROM read_parquet('$root/responses/*.parquet'))),
       |resp AS (SELECT response_id, request_id, unnest(sb['bid']) AS b FROM s),
       |imp AS (SELECT DISTINCT impression_id, request_id AS i_request_id
       |        FROM read_parquet('$root/impressions/*.parquet')),
       |clk AS (SELECT DISTINCT click_id, impression_id AS c_impression_id
       |        FROM read_parquet('$root/clicks/*.parquet'))
       |SELECT count(DISTINCT br.request_id) AS requests,
       |       count(DISTINCT resp.request_id) AS responses,
       |       count(DISTINCT imp.impression_id) AS impressions,
       |       count(DISTINCT clk.click_id) AS clicks,
       |       round(CAST(count(DISTINCT resp.request_id) AS DOUBLE)
       |             / count(DISTINCT br.request_id) * 100, 2) AS fill_rate_pct,
       |       round(CAST(count(DISTINCT imp.impression_id) AS DOUBLE)
       |             / nullif(count(DISTINCT resp.request_id), 0) * 100, 2) AS win_rate_pct,
       |       round(CAST(count(DISTINCT clk.click_id) AS DOUBLE)
       |             / nullif(count(DISTINCT imp.impression_id), 0) * 100, 2) AS ctr_pct
       |FROM br
       |LEFT JOIN resp ON br.request_id = resp.request_id
       |LEFT JOIN imp ON br.request_id = imp.i_request_id
       |LEFT JOIN clk ON imp.impression_id = clk.c_impression_id""".stripMargin) { t =>
    registerBaseStreams(t.spark)
    t.spark.sql(example13)
  }

  /** A second literal replay for the VIEW surface: #15's text runs
    * against the registered `dq_rejected_events` view name — proving
    * the view registrations resolve, not just the base streams.
    * Covered by the dq row's own oracle; here the count-by-reason text
    * must agree with a direct re-aggregation of the registered view.
    * Reads THE stored text (one copy per reference string, as #13 —
    * two byte-for-byte copies could drift independently).
    */
  private[operators] def example15(spark: SparkSession): org.apache.spark.sql.DataFrame =
    spark.sql(exampleTexts(15))

  /** EVERY `scripts/query-examples.sh` text, byte-for-byte (the strings
    * the reference passes to `trino --execute`, script lines 26-214).
    * SqlSurfaceSpec replays ALL 19 through `spark.sql` against the
    * registered surface — the complete "paste the reference's SQL, get
    * the reference's answer" contract. #8's Iceberg metadata-table read
    * resolves through the [[graft.tables.MetaCatalog]] `iceberg`
    * catalog over [[ensureLakehouse]]'s materialized commit history
    * (see [[needsAnsiQuotes]] for its one session conf).
    */
  val exampleTexts: Map[Int, String] = Map(
    1 ->
      """SELECT device_geo_country, COUNT(*) AS request_count
        |   FROM bid_requests
        |   GROUP BY device_geo_country
        |   ORDER BY request_count DESC
        |   LIMIT 10""".stripMargin,
    2 ->
      """SELECT device_geo_country, device_geo_region,
        |          ROUND(AVG(imp_bidfloor), 4) AS avg_bidfloor,
        |          COUNT(*) AS request_count
        |   FROM bid_requests
        |   GROUP BY device_geo_country, device_geo_region
        |   ORDER BY avg_bidfloor DESC
        |   LIMIT 10""".stripMargin,
    3 ->
      """SELECT imp_banner_w, imp_banner_h,
        |          ROUND(MIN(imp_bidfloor), 4) AS min_floor,
        |          ROUND(AVG(imp_bidfloor), 4) AS avg_floor,
        |          ROUND(MAX(imp_bidfloor), 4) AS max_floor,
        |          COUNT(*) AS request_count
        |   FROM bid_requests
        |   GROUP BY imp_banner_w, imp_banner_h
        |   ORDER BY request_count DESC
        |   LIMIT 10""".stripMargin,
    4 ->
      """SELECT device_os, device_type, COUNT(*) AS request_count
        |   FROM bid_requests
        |   GROUP BY device_os, device_type
        |   ORDER BY request_count DESC""".stripMargin,
    5 ->
      """SELECT date_trunc('hour', event_timestamp) AS hour,
        |          COUNT(*) AS request_count
        |   FROM bid_requests
        |   GROUP BY date_trunc('hour', event_timestamp)
        |   ORDER BY hour DESC
        |   LIMIT 24""".stripMargin,
    6 ->
      """SELECT auction_type,
        |          CASE auction_type
        |            WHEN 1 THEN 'First Price'
        |            WHEN 2 THEN 'Second Price'
        |            ELSE 'Other'
        |          END AS auction_name,
        |          COUNT(*) AS request_count
        |   FROM bid_requests
        |   GROUP BY auction_type
        |   ORDER BY request_count DESC""".stripMargin,
    7 ->
      """SELECT is_gdpr, is_coppa, COUNT(*) AS request_count
        |   FROM bid_requests
        |   GROUP BY is_gdpr, is_coppa
        |   ORDER BY request_count DESC""".stripMargin,
    8 ->
      """SELECT snapshot_id, parent_id, committed_at, operation, summary
        |   FROM iceberg.db."bid_requests$snapshots"
        |   ORDER BY committed_at DESC
        |   LIMIT 10""".stripMargin,
    9 ->
      """SELECT br.device_geo_country,
        |          COUNT(br.request_id) AS requests,
        |          COUNT(resp.request_id) AS responses,
        |          ROUND(CAST(COUNT(resp.request_id) AS DOUBLE) / COUNT(br.request_id) * 100, 2) AS fill_rate_pct
        |   FROM bid_requests br
        |   LEFT JOIN bid_responses resp ON br.request_id = resp.request_id
        |   GROUP BY br.device_geo_country
        |   ORDER BY requests DESC
        |   LIMIT 10""".stripMargin,
    10 ->
      """SELECT resp.seat AS bidder,
        |          COUNT(resp.response_id) AS bids,
        |          COUNT(imp.impression_id) AS wins,
        |          ROUND(CAST(COUNT(imp.impression_id) AS DOUBLE) / COUNT(resp.response_id) * 100, 2) AS win_rate_pct
        |   FROM bid_responses resp
        |   LEFT JOIN impressions imp ON resp.response_id = imp.response_id
        |   GROUP BY resp.seat
        |   ORDER BY bids DESC""".stripMargin,
    11 ->
      """SELECT imp.creative_id,
        |          COUNT(imp.impression_id) AS impressions,
        |          COUNT(clk.click_id) AS clicks,
        |          ROUND(CAST(COUNT(clk.click_id) AS DOUBLE) / COUNT(imp.impression_id) * 100, 2) AS ctr_pct
        |   FROM impressions imp
        |   LEFT JOIN clicks clk ON imp.impression_id = clk.impression_id
        |   GROUP BY imp.creative_id
        |   ORDER BY impressions DESC
        |   LIMIT 10""".stripMargin,
    12 ->
      """SELECT br.publisher_id,
        |          COUNT(imp.impression_id) AS wins,
        |          ROUND(SUM(imp.win_price), 2) AS total_revenue,
        |          ROUND(AVG(imp.win_price), 4) AS avg_win_price
        |   FROM bid_requests br
        |   JOIN impressions imp ON br.request_id = imp.request_id
        |   GROUP BY br.publisher_id
        |   ORDER BY total_revenue DESC
        |   LIMIT 10""".stripMargin,
    13 -> example13,
    14 ->
      """SELECT resp.seat AS bidder,
        |          ROUND(AVG(resp.bid_price), 4) AS avg_bid_price,
        |          ROUND(AVG(imp.win_price), 4) AS avg_win_price,
        |          ROUND(AVG(resp.bid_price - imp.win_price), 4) AS avg_spread
        |   FROM bid_responses resp
        |   JOIN impressions imp ON resp.response_id = imp.response_id
        |   GROUP BY resp.seat
        |   ORDER BY avg_spread DESC""".stripMargin,
    15 ->
      """SELECT reject_reason, COUNT(*) AS rejected_count
        |   FROM dq_rejected_events
        |   GROUP BY reject_reason
        |   ORDER BY rejected_count DESC
        |   LIMIT 10""".stripMargin,
    16 ->
      """SELECT window_start,
        |          total_bid_requests, duplicate_bid_requests, duplicate_bid_request_rate,
        |          total_bid_responses, duplicate_bid_responses, duplicate_bid_response_rate,
        |          total_wins, duplicate_wins, duplicate_win_rate,
        |          total_clicks, duplicate_clicks, duplicate_click_rate,
        |          invalid_bid_requests, invalid_bid_request_rate,
        |          total_events_all, duplicate_events_all, duplicate_rate_all
        |   FROM dq_event_quality_hourly
        |   ORDER BY window_start DESC
        |   LIMIT 24""".stripMargin,
    17 ->
      """SELECT window_start, publisher_id, request_count, total_bids, bids_per_request, avg_bid_price, max_bid_price
        |   FROM bid_landscape_hourly
        |   ORDER BY window_start DESC, total_bids DESC
        |   LIMIT 20""".stripMargin,
    18 ->
      """SELECT window_start, bidder_id, impressions, clicks, revenue, ctr
        |   FROM realtime_serving_metrics_1m
        |   ORDER BY window_start DESC, revenue DESC
        |   LIMIT 30""".stripMargin,
    19 ->
      """SELECT window_start, publisher_id, requests_no_response, responses_no_impression, impressions_no_click,
        |          response_leakage_rate, impression_leakage_rate, click_leakage_rate
        |   FROM funnel_leakage_hourly
        |   ORDER BY window_start DESC, requests_no_response DESC
        |   LIMIT 20""".stripMargin)

  /** Example numbers that need a session conf beyond the default to
    * parse (the TEXT is still verbatim): #8's `"bid_requests$snapshots"`
    * uses ANSI double-quoted identifiers — Trino's default quoting —
    * which Spark enables with `spark.sql.ansi.doubleQuotedIdentifiers`;
    * the `iceberg` catalog itself is served by
    * [[graft.tables.MetaCatalog]] and [[ensureLakehouse]]'s
    * materialization. (Formerly the one non-replayable exclusion; the
    * surface now replays all 19.)
    */
  val needsAnsiQuotes: Set[Int] = Set(8)

  val all: Seq[QueryDef] = Seq(x3SqlSurface)
}
