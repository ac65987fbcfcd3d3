package graft.operators

import java.nio.file.{Files, Paths}

import graft.QueryDef
import graft.gen.RtbGenerator
import graft.rtb.RtbIngest
import org.apache.spark.sql.functions._

/** The nested OpenRTB pipeline pushed through the DuckDB oracle gate —
  * not a testdata analog: each query GENERATES the seeded funnel
  * (S9, deterministic), writes the raw NESTED events as parquet to a
  * fixed scratch path, recomputes in Spark from the written files, and
  * the oracle SQL recomputes the same result in DuckDB via
  * `read_parquet` on the very same files (struct bracket access +
  * UNNEST replicate the nested projections). This value-checks the real
  * P1–P7/P9 enrichment and the real J3 funnel on real nested data, both
  * engines reading identical bytes.
  *
  * Deliberately excluded from the projections: `content_cat` (a LIST
  * cell — the gate hashes scalar cells) and `imp_bidfloor_usd`
  * (`round(x, 4)` half-tie divergence between engines — P8 is
  * oracle-checked on exact cents in `p8_currency_case`), and the funnel
  * rate columns (same `round` tie risk; the counts are exact and the
  * rates are oracle-checked via a2/a6).
  */
object RtbOracleOps {

  // literal path shared with the oracle SQL — must be identical text on
  // both engines, so no tmpdir indirection
  private[operators] val root = "/tmp/graft_rtb_oracle"

  private val Seed = 987654321L
  private val N = 1500
  private val StartMs = 1704103200000L // 2024-01-01 10:00:00 UTC
  private val SpanMs = 3L * 3600 * 1000

  /** Generate once, share across the three queries (and across Verify →
    * oracle → Bench runs — the data is a pure function of the seed, so a
    * marker file short-circuits the regenerate+rewrite). All four fault
    * classes are on; each query simply reads the slices it needs.
    */
  /** Pre-generate the fixture outside any timed window (Bench warm-up).
    * Idempotent — same marker-file short-circuit as the per-query calls.
    */
  private[graft] def warm(spark: org.apache.spark.sql.SparkSession): Unit =
    ensureData(spark)

  /** Memoized relation per (session, slice) over the generated fixture —
    * the [[graft.Tables]] pattern: ~30 call sites across the rtb/view/
    * example/dashboard operators each re-paid a parquet footer read +
    * directory listing per DataFrame construction, over a directory
    * that is immutable once its completeness marker exists (ensureData
    * regenerates only BEFORE the first read). Holds no row data.
    */
  private val sliceCache = scala.collection.concurrent.TrieMap[
    (org.apache.spark.sql.SparkSession, String), org.apache.spark.sql.DataFrame]()

  private[operators] def slice(spark: org.apache.spark.sql.SparkSession,
      sub: String): org.apache.spark.sql.DataFrame = {
    ensureData(spark)
    if (!sliceCache.contains((spark, sub))) // stopped-session sweep on
      sliceCache.keys.filter(_._1.sparkContext.isStopped) // the populate
        .foreach(sliceCache.remove) // path only (ADVICE r17)
    sliceCache.getOrElseUpdate((spark, sub), spark.read.parquet(s"$root/$sub"))
  }

  private[operators] def ensureData(spark: org.apache.spark.sql.SparkSession): Unit = synchronized {
    // the marker must encode EVERY generation parameter — a partial key
    // (seed+N only) would silently reuse stale data after a parameter edit
    val marker = Paths.get(s"$root/_complete-$Seed-$N-$StartMs-$SpanMs-dup03x4")
    if (Files.exists(marker)) return
    // Cross-PROCESS mutual exclusion (the `synchronized` above only
    // serializes this JVM): two concurrent cold runs (bench + verify,
    // parallel drivers) would otherwise interleave deleteRecursively
    // with the other's parquet writes under the FIXED path the oracle
    // SQL demands. An OS file lock OUTSIDE root (so the wipe below
    // can't delete it) serializes generation; the loser of the race
    // re-checks the marker under the lock and finds the winner's
    // completed fixture — the data is a pure function of the seed, so
    // whoever generates, the bytes agree.
    val lockPath = Paths.get(s"$root.lock")
    val ch = java.nio.channels.FileChannel.open(lockPath,
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val lock = ch.lock()
      try {
        if (Files.exists(marker)) return
        val p = Paths.get(root)
        graft.FsUtil.deleteRecursively(p)
        Files.createDirectories(p)
        val funnel = RtbGenerator.generate(Seed, N, StartMs, SpanMs,
          RtbGenerator.Rates(dupRequest = 0.03, dupResponse = 0.03,
            dupImpression = 0.03, dupClick = 0.03))
        import spark.implicits._
        spark.createDataset(funnel.requests).write.mode("overwrite").parquet(s"$root/requests")
        spark.createDataset(funnel.responses).write.mode("overwrite").parquet(s"$root/responses")
        spark.createDataset(funnel.impressions).write.mode("overwrite").parquet(s"$root/impressions")
        spark.createDataset(funnel.clicks).write.mode("overwrite").parquet(s"$root/clicks")
        // the marker is the COMMIT: written last, so a crash mid-write
        // leaves no marker and the next caller regenerates from scratch
        Files.createFile(marker)
      } finally lock.release()
    } finally ch.close()
  }

  /** [[tsSql]] over any ISO-µs string column, not just event_timestamp. */
  private[operators] def tsSqlOf(c: String): String =
    s"strptime(substr($c, 1, 26), '%Y-%m-%dT%H:%M:%S.%f')"

  private[operators] val tsSql = tsSqlOf("event_timestamp")

  /** Shared oracle SQL for the enrichment shape — used verbatim by both
    * the direct parquet path and the Avro wire round-trip (the point of
    * the latter: decoded bytes must be indistinguishable downstream).
    */
  private val enrichSql =
    s"""WITH x AS (
       |  SELECT id, unnest(imp) AS imp_t, site, app, cur, device, regs, "at",
       |         "user", tmax, event_timestamp, received_at
       |  FROM read_parquet('$root/requests/*.parquet')
       |),
       |flat AS (
       |  SELECT id AS request_id,
       |         imp_t['id'] AS imp_id,
       |         imp_t['banner']['w'] AS banner_w,
       |         imp_t['banner']['h'] AS banner_h,
       |         imp_t['bidfloor'] AS imp_bidfloor,
       |         coalesce(site['id'], app['id']) AS property_id,
       |         coalesce(site['domain'], app['bundle']) AS property_domain,
       |         coalesce(site['publisher']['id'], app['publisher']['id']) AS publisher_id,
       |         cur[1] AS currency,
       |         device['ip'] AS device_ip,
       |         device['geo']['country'] AS device_geo_country,
       |         device['geo']['region'] AS device_geo_region,
       |         device['devicetype'] AS devicetype,
       |         device['os'] AS device_os,
       |         app IS NOT NULL AS is_app,
       |         regs['ext']['gdpr'] = 1 AS is_gdpr,
       |         regs['coppa'] = 1 AS is_coppa,
       |         "at" AS auction_type,
       |         "user"['id'] AS user_id,
       |         tmax,
       |         $tsSql AS event_ts,
       |         ${tsSqlOf("received_at")} AS received_ts
       |  FROM x
       |)
       |SELECT *,
       |       CASE WHEN devicetype IN (3, 6, 7) THEN 'CTV'
       |            WHEN devicetype IN (1, 4) AND is_app THEN 'Mobile App'
       |            WHEN devicetype IN (1, 4) AND NOT is_app THEN 'Mobile Web'
       |            WHEN devicetype = 2 THEN 'Desktop'
       |            ELSE 'Unknown' END AS device_category,
       |       publisher_id <= 0 AS is_test_traffic,
       |       (device_ip LIKE '10.%' OR device_ip LIKE '192.168.%'
       |        OR device_ip LIKE '172.16.%' OR device_ip LIKE '172.2_.%'
       |        OR device_ip LIKE '172.3_.%') AS is_private_ip,
       |       CASE WHEN publisher_id <= 0 THEN 'TEST_PUBLISHER'
       |            WHEN device_ip LIKE '10.%' OR device_ip LIKE '192.168.%'
       |              OR device_ip LIKE '172.16.%' OR device_ip LIKE '172.2_.%'
       |              OR device_ip LIKE '172.3_.%' THEN 'PRIVATE_IP'
       |            WHEN imp_bidfloor <= 0 THEN 'NON_POSITIVE_BIDFLOOR'
       |            ELSE NULL END AS reject_reason
       |FROM flat""".stripMargin

  /** P1–P7/P9 + U1 on REAL nested rows, engine-parity-checked. */
  val rtbIngestEnrich: QueryDef = QueryDef(
    "rtb_ingest_enrich", enrichSql) { t =>
    ensureData(t.spark)
    RtbIngest.flattenRequests(slice(t.spark, "requests"))
      .drop("content_cat", "imp_bidfloor_usd")
  }

  /** S1's Avro wire leg, engine-parity-checked end to end: the nested
    * requests are ENCODED to Confluent-framed Avro binary under a
    * registered writer schema, DECODED back through the registry's
    * reader, and only then flattened — while the oracle recomputes from
    * the original parquet. A hash-identical result proves the wire
    * round-trip preserves every value the enrichment consumes (nested
    * structs, arrays, the site/app null-union), i.e. a user could swap
    * the typed source for the Kafka-Avro wire without observable change.
    */
  val rtbAvroRoundtrip: QueryDef = QueryDef(
    "rtb_avro_roundtrip", enrichSql) { t =>
    ensureData(t.spark)
    val raw = slice(t.spark, "requests")
    val registry = new graft.sources.WireRegistry
    val schema = graft.sources.AvroWire.schemaFor(raw)
    val id = registry.register("bid-requests-value", schema)
    val wire = raw.select(graft.sources.AvroWire.toWire(
      struct(raw.columns.map(col): _*), schema, id).as("value"))
    val decoded = wire.select(graft.sources.AvroWire.fromWire(
      col("value"), registry.latest("bid-requests-value")._2, registry.writers).as("r"))
      .select("r.*")
    RtbIngest.flattenRequests(decoded)
      .drop("content_cat", "imp_bidfloor_usd")
  }

  /** U2 (real double-explode) + P3 on generated nested responses: one
    * row per bid across every seat of every response, engine-parity-
    * checked via two-level UNNEST in DuckDB.
    */
  val rtbFlattenBids: QueryDef = QueryDef(
    "rtb_flatten_bids",
    s"""WITH s AS (
       |  SELECT id AS response_id, ext['request_id'] AS request_id, cur AS currency,
       |         $tsSql AS event_ts, unnest(seatbid) AS sb
       |  FROM read_parquet('$root/responses/*.parquet')
       |),
       |b AS (
       |  SELECT response_id, request_id, currency, event_ts,
       |         sb['seat'] AS bidder_id, unnest(sb['bid']) AS b
       |  FROM s
       |)
       |SELECT response_id, request_id, currency, event_ts, bidder_id,
       |       b['id'] AS bid_id, b['impid'] AS imp_id, b['price'] AS bid_price,
       |       b['crid'] AS creative_id, b['adomain'][1] AS ad_domain,
       |       b['dealid'] AS deal_id, b['campaign_id'] AS campaign_id,
       |       b['line_item_id'] AS line_item_id, b['strategy_id'] AS strategy_id,
       |       b['advertiser_id'] AS advertiser_id, b['agency_id'] AS agency_id
       |FROM b""".stripMargin) { t =>
    ensureData(t.spark)
    RtbIngest.flattenBids(slice(t.spark, "responses"))
  }

  /** J3 (real 4-stage form) + A2/A3/P10 on generated nested events:
    * dedup each stream by event id, chain the interval left joins, count
    * the four funnel stages per request hour. Both engines read the same
    * written files; the counts must match exactly.
    */
  val rtbFunnelHourly: QueryDef = QueryDef(
    "rtb_funnel_hourly",
    s"""WITH r AS (SELECT DISTINCT id AS request_id, $tsSql AS r_ts
       |           FROM read_parquet('$root/requests/*.parquet')),
       |b AS (SELECT DISTINCT id AS response_id, ext['request_id'] AS b_request_id,
       |             $tsSql AS b_ts
       |      FROM read_parquet('$root/responses/*.parquet')),
       |i AS (SELECT DISTINCT impression_id, request_id AS i_request_id, $tsSql AS i_ts
       |      FROM read_parquet('$root/impressions/*.parquet')),
       |c AS (SELECT DISTINCT click_id, impression_id AS c_impression_id, $tsSql AS c_ts
       |      FROM read_parquet('$root/clicks/*.parquet')),
       |chained AS (
       |  SELECT r.request_id, b.response_id, i.impression_id, c.click_id, r.r_ts
       |  FROM r
       |  LEFT JOIN b ON b.b_request_id = r.request_id
       |             AND b.b_ts >= r.r_ts AND b.b_ts <= r.r_ts + INTERVAL 5 SECOND
       |  LEFT JOIN i ON i.i_request_id = r.request_id
       |             AND i.i_ts >= b.b_ts AND i.i_ts <= b.b_ts + INTERVAL 10 SECOND
       |  LEFT JOIN c ON c.c_impression_id = i.impression_id
       |             AND c.c_ts >= i.i_ts AND c.c_ts <= i.i_ts + INTERVAL 60 SECOND
       |)
       |SELECT date_trunc('hour', r_ts) AS hour,
       |       count(DISTINCT request_id) AS n_requests,
       |       count(DISTINCT response_id) AS n_responses,
       |       count(DISTINCT impression_id) AS n_impressions,
       |       count(DISTINCT click_id) AS n_clicks
       |FROM chained GROUP BY 1""".stripMargin) { t =>
    ensureData(t.spark)
    RtbIngest.funnelHourly(
      slice(t.spark, "requests"),
      slice(t.spark, "responses"),
      slice(t.spark, "impressions"),
      slice(t.spark, "clicks"))
      .select(col("hour"), col("n_requests"), col("n_responses"),
        col("n_impressions"), col("n_clicks"))
  }

  /** The reference's `bid_landscape_hourly` view one-for-one
    * (aggregation_jobs.sql:232-270, surfaced by query-examples.sh #17):
    * dedup the double-exploded bids by (bid_id, request_id), LEFT
    * interval-join back to the request for its publisher, then hourly
    * publisher-level auction landscape. Money aggregates route through
    * exact integer cents so both engines divide the same exact operands
    * (AVG over raw doubles is summation-order-dependent and would
    * hash-flap); `max_bid_price` is order-independent and stays raw.
    * The join is equi on request_id with the time bound as a residual
    * filter — a hash join at any scale, never a range scan.
    */
  val vBidLandscapeHourly: QueryDef = QueryDef(
    "v_bid_landscape_hourly",
    s"""WITH s AS (
       |  SELECT id AS response_id, ext['request_id'] AS request_id,
       |         $tsSql AS event_ts, unnest(seatbid) AS sb
       |  FROM read_parquet('$root/responses/*.parquet')
       |),
       |eb AS (SELECT request_id, event_ts, unnest(sb['bid']) AS b FROM s),
       |resp AS (
       |  SELECT b['id'] AS bid_id, request_id,
       |         max(b['price']) AS bid_price, max(event_ts) AS event_ts
       |  FROM eb GROUP BY 1, 2
       |),
       |br AS (
       |  SELECT id, coalesce(site['publisher']['id'], app['publisher']['id']) AS pub_id,
       |         $tsSql AS r_ts
       |  FROM read_parquet('$root/requests/*.parquet')
       |),
       |j AS (
       |  SELECT resp.*, br.pub_id
       |  FROM resp LEFT JOIN br
       |    ON br.id = resp.request_id
       |   AND br.r_ts BETWEEN resp.event_ts - INTERVAL 10 SECOND
       |                   AND resp.event_ts + INTERVAL 5 SECOND
       |)
       |SELECT date_trunc('hour', event_ts) AS window_start,
       |       coalesce(pub_id, 0) AS publisher_id,
       |       count(DISTINCT request_id) AS request_count,
       |       count(*) AS total_bids,
       |       CASE WHEN count(DISTINCT request_id) > 0
       |            THEN CAST(count(*) AS DOUBLE) / count(DISTINCT request_id)
       |            ELSE 0.0 END AS bids_per_request,
       |       CAST(sum(CAST(round(bid_price * 100) AS BIGINT)) AS DOUBLE) / 100.0
       |         / count(*) AS avg_bid_price,
       |       max(bid_price) AS max_bid_price
       |FROM j GROUP BY 1, 2""".stripMargin) { t =>
    ensureData(t.spark)
    val resp = RtbIngest.flattenBids(slice(t.spark, "responses"))
      .groupBy(col("bid_id"), col("request_id"))
      .agg(max(col("bid_price")).as("bid_price"), max(col("event_ts")).as("event_ts"))
    val br = slice(t.spark, "requests")
      .select(col("id"),
        coalesce(col("site.publisher.id"), col("app.publisher.id")).as("pub_id"),
        RtbIngest.parseTs(col("event_timestamp")).as("r_ts"))
    resp.join(br,
        br("id") === resp("request_id") &&
          br("r_ts").between(
            resp("event_ts") - expr("INTERVAL 10 SECOND"),
            resp("event_ts") + expr("INTERVAL 5 SECOND")),
        "left")
      .groupBy(date_trunc("hour", col("event_ts")).as("window_start"),
        coalesce(col("pub_id"), lit(0)).as("publisher_id"))
      .agg(
        countDistinct(col("request_id")).as("request_count"),
        count(lit(1)).as("total_bids"),
        when(countDistinct(col("request_id")) > 0,
          count(lit(1)).cast("double") / countDistinct(col("request_id")))
          .otherwise(0.0).as("bids_per_request"),
        (sum(round(col("bid_price") * 100).cast("long")).cast("double") / 100.0
          / count(lit(1))).as("avg_bid_price"),
        max(col("bid_price")).as("max_bid_price"))
  }

  /** The reference's `realtime_serving_metrics_1m` view one-for-one
    * (aggregation_jobs.sql:273-310, query-examples.sh #18): dedup
    * impressions by (impression_id, bidder_id) and clicks by
    * (click_id, impression_id), LEFT interval-join clicks to their
    * impression, then MINUTE-grain bidder serving metrics — the one
    * reference bucket grain (FLOOR TO MINUTE) not previously pinned by
    * a named oracle row. Revenue goes through exact cents; ctr divides
    * two exact counts.
    */
  val vRealtimeServing1m: QueryDef = QueryDef(
    "v_realtime_serving_metrics_1m",
    s"""WITH imp AS (
       |  SELECT impression_id, bidder_id,
       |         max(win_price) AS win_price, max(event_ts) AS event_ts
       |  FROM (SELECT impression_id, bidder_id, win_price, $tsSql AS event_ts
       |        FROM read_parquet('$root/impressions/*.parquet'))
       |  GROUP BY 1, 2
       |),
       |cl AS (
       |  SELECT click_id, impression_id, max(event_ts) AS event_ts
       |  FROM (SELECT click_id, impression_id, $tsSql AS event_ts
       |        FROM read_parquet('$root/clicks/*.parquet'))
       |  GROUP BY 1, 2
       |),
       |j AS (
       |  SELECT imp.*, cl.click_id
       |  FROM imp LEFT JOIN cl
       |    ON cl.impression_id = imp.impression_id
       |   AND cl.event_ts BETWEEN imp.event_ts AND imp.event_ts + INTERVAL 60 SECOND
       |)
       |SELECT date_trunc('minute', event_ts) AS window_start,
       |       bidder_id,
       |       count(*) AS impressions,
       |       count(DISTINCT click_id) AS clicks,
       |       CAST(sum(CAST(round(win_price * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
       |       CASE WHEN count(*) > 0
       |            THEN CAST(count(DISTINCT click_id) AS DOUBLE) / count(*)
       |            ELSE 0.0 END AS ctr
       |FROM j GROUP BY 1, 2""".stripMargin) { t =>
    ensureData(t.spark)
    val imp = slice(t.spark, "impressions")
      .withColumn("event_ts", RtbIngest.parseTs(col("event_timestamp")))
      .groupBy(col("impression_id"), col("bidder_id"))
      .agg(max(col("win_price")).as("win_price"), max(col("event_ts")).as("event_ts"))
    val cl = slice(t.spark, "clicks")
      .withColumn("c_ts", RtbIngest.parseTs(col("event_timestamp")))
      .groupBy(col("click_id"), col("impression_id").as("c_impression_id"))
      .agg(max(col("c_ts")).as("c_ts"))
    imp.join(cl,
        col("c_impression_id") === col("impression_id") &&
          col("c_ts").between(col("event_ts"),
            col("event_ts") + expr("INTERVAL 60 SECOND")),
        "left")
      .groupBy(date_trunc("minute", col("event_ts")).as("window_start"),
        col("bidder_id"))
      .agg(
        count(lit(1)).as("impressions"),
        countDistinct(col("click_id")).as("clicks"),
        (sum(round(col("win_price") * 100).cast("long")).cast("double") / 100.0)
          .as("revenue"),
        when(count(lit(1)) > 0,
          countDistinct(col("click_id")).cast("double") / count(lit(1)))
          .otherwise(0.0).as("ctr"))
  }

  /** query-examples.sh #6 one-for-one: the auction-type label CASE over
    * the flat per-impression request rows.
    */
  val vAuctionTypeDistribution: QueryDef = QueryDef(
    "v_auction_type_distribution",
    s"""WITH x AS (SELECT "at" AS auction_type, unnest(imp) AS imp_t
       |           FROM read_parquet('$root/requests/*.parquet'))
       |SELECT auction_type,
       |       CASE auction_type WHEN 1 THEN 'First Price'
       |                         WHEN 2 THEN 'Second Price'
       |                         ELSE 'Other' END AS auction_name,
       |       count(*) AS request_count
       |FROM x GROUP BY 1""".stripMargin) { t =>
    ensureData(t.spark)
    RtbIngest.flattenRequests(slice(t.spark, "requests"))
      .groupBy(col("auction_type"))
      .agg(count(lit(1)).as("request_count"))
      .select(col("auction_type"),
        when(col("auction_type") === 1, "First Price")
          .when(col("auction_type") === 2, "Second Price")
          .otherwise("Other").as("auction_name"),
        col("request_count"))
  }

  // ---- 12-dim wide SCD2 enrichment (v_event_enriched_full_funnel.sql:86-112) ----

  /** Deterministic SCD2 dim seeding at the reference's hierarchy breadth
    * (dimension_mapping.py:167-431): one current row per key plus a
    * retired historical row for every third key, so `is_current` is
    * load-bearing in all 12 joins. Both engines rebuild the identical
    * dims from integer ranges.
    */
  private[operators] def rangeDim(spark: org.apache.spark.sql.SparkSession,
      n: Int, key: String, label: String, prefix: String): org.apache.spark.sql.DataFrame = {
    val base = spark.range(1, n + 1)
      .select(col("id").cast("int").as(key),
        concat(lit(s"$prefix-"), col("id").cast("string")).as(label))
    base.withColumn("is_current", lit(true))
      .unionByName(base.filter(col(key) % 3 === 0)
        .withColumn(label, concat(col(label), lit("-old")))
        .withColumn("is_current", lit(false)))
  }

  private[operators] def rangeDimSql(n: Int, key: String, label: String, prefix: String): String =
    s"""SELECT CAST(id AS INTEGER) AS $key,
       |       '$prefix-' || CAST(id AS VARCHAR) AS $label, true AS is_current
       |FROM (SELECT unnest(generate_series(1, $n)) AS id)
       |UNION ALL
       |SELECT CAST(id AS INTEGER), '$prefix-' || CAST(id AS VARCHAR) || '-old', false
       |FROM (SELECT unnest(generate_series(1, $n)) AS id) WHERE id % 3 = 0""".stripMargin

  /** The reference's full-funnel wide enrichment at its real width: the
    * deduplicated per-bid fact joined to its request row, then LEFT
    * joined to ALL TWELVE `is_current` SCD2 dims in one plan — publisher
    * / device-type / device-OS / geo on the request side, the complete
    * DSP hierarchy (bidder, creative, strategy, line item, campaign,
    * advertiser, agency, deal) on the response side
    * (v_event_enriched_full_funnel.sql:86-112, breadth from
    * dimension_mapping.py: 30 publishers, 7 device types, 5 OSes, 160
    * geos, 25 bidders, 200 creatives, 180 strategies, 120 line items,
    * 60 campaigns, 20 advertisers, 5 agencies, 40 deals). Every dim is
    * small and every join key is a dim PK, so all 12 joins BROADCAST
    * (PlanSpec pins this) — the fact table never shuffles, which is what
    * makes a 12-way enrichment viable over 100 TB of facts. Misses stay
    * NULL (test-traffic publishers, null deal ids), proving LEFT
    * semantics per dim.
    */
  val j5WideEnrich: QueryDef = QueryDef(
    "j5_wide_enrich", {
      val dims = Seq(
        rangeDimSql(30, "d_publisher_id", "publisher_name", "publisher"),
        rangeDimSql(7, "device_type_code", "device_type_name", "devtype"),
        rangeDimSql(25, "d_bidder_id", "bidder_name", "bidder"),
        rangeDimSql(200, "d_creative_id", "creative_name", "creative"),
        rangeDimSql(180, "d_strategy_id", "strategy_name", "strategy"),
        rangeDimSql(120, "d_line_item_id", "line_item_name", "lineitem"),
        rangeDimSql(60, "d_campaign_id", "campaign_name", "campaign"),
        rangeDimSql(20, "d_advertiser_id", "advertiser_name", "advertiser"),
        rangeDimSql(5, "d_agency_id", "agency_name", "agency"),
        rangeDimSql(40, "d_deal_id", "deal_name", "deal"))
      val dimCtes = Seq("dim_publisher", "dim_device_type", "dim_bidder",
        "dim_creative", "dim_strategy", "dim_line_item", "dim_campaign",
        "dim_advertiser", "dim_agency", "dim_deal")
        .zip(dims).map { case (n, q) => s"$n AS ($q)" }.mkString(",\n")
      s"""WITH $dimCtes,
         |dim_device_os AS (
         |  SELECT os_name,
         |         CASE WHEN os_name IN ('iOS', 'Android') THEN 'mobile'
         |              ELSE 'desktop' END AS os_family, true AS is_current
         |  FROM (SELECT unnest(['iOS','Android','Windows','macOS','Linux']) AS os_name)
         |),
         |dim_geo AS (
         |  SELECT country, country || '-' || CAST(r AS VARCHAR) AS region,
         |         'geo-' || country || '-' || CAST(r AS VARCHAR) AS geo_name,
         |         true AS is_current
         |  FROM (SELECT unnest(['US','GB','DE','FR','JP','BR','IN','CA']) AS country),
         |       (SELECT unnest(generate_series(0, 19)) AS r)
         |),
         |reqs AS (
         |  SELECT DISTINCT id AS request_id, imp_t['id'] AS imp_id,
         |         coalesce(site['publisher']['id'], app['publisher']['id']) AS publisher_id,
         |         device['devicetype'] AS devicetype, device['os'] AS device_os,
         |         device['geo']['country'] AS geo_country,
         |         device['geo']['region'] AS geo_region
         |  FROM (SELECT id, unnest(imp) AS imp_t, site, app, device
         |        FROM read_parquet('$root/requests/*.parquet'))
         |),
         |bids AS (
         |  SELECT DISTINCT request_id, b['id'] AS bid_id, b['impid'] AS imp_id,
         |         bidder_id, b['crid'] AS creative_id, b['strategy_id'] AS strategy_id,
         |         b['line_item_id'] AS line_item_id, b['campaign_id'] AS campaign_id,
         |         b['advertiser_id'] AS advertiser_id, b['agency_id'] AS agency_id,
         |         b['dealid'] AS deal_id
         |  FROM (SELECT ext['request_id'] AS request_id, sb['seat'] AS bidder_id,
         |               unnest(sb['bid']) AS b
         |        FROM (SELECT id, ext, unnest(seatbid) AS sb
         |              FROM read_parquet('$root/responses/*.parquet')))
         |)
         |SELECT bids.request_id, bids.bid_id,
         |       dp.publisher_name, ddt.device_type_name, dos.os_family, dg.geo_name,
         |       db.bidder_name, dc.creative_name, ds.strategy_name, dl.line_item_name,
         |       dcmp.campaign_name, da.advertiser_name, dag.agency_name, dd.deal_name
         |FROM bids
         |JOIN reqs ON reqs.request_id = bids.request_id AND reqs.imp_id = bids.imp_id
         |LEFT JOIN dim_publisher dp
         |  ON reqs.publisher_id = dp.d_publisher_id AND dp.is_current
         |LEFT JOIN dim_device_type ddt
         |  ON reqs.devicetype = ddt.device_type_code AND ddt.is_current
         |LEFT JOIN dim_device_os dos
         |  ON reqs.device_os = dos.os_name AND dos.is_current
         |LEFT JOIN dim_geo dg
         |  ON reqs.geo_country = dg.country AND reqs.geo_region = dg.region
         | AND dg.is_current
         |LEFT JOIN dim_bidder db ON bids.bidder_id = db.d_bidder_id AND db.is_current
         |LEFT JOIN dim_creative dc ON bids.creative_id = dc.d_creative_id AND dc.is_current
         |LEFT JOIN dim_strategy ds ON bids.strategy_id = ds.d_strategy_id AND ds.is_current
         |LEFT JOIN dim_line_item dl ON bids.line_item_id = dl.d_line_item_id AND dl.is_current
         |LEFT JOIN dim_campaign dcmp ON bids.campaign_id = dcmp.d_campaign_id AND dcmp.is_current
         |LEFT JOIN dim_advertiser da ON bids.advertiser_id = da.d_advertiser_id AND da.is_current
         |LEFT JOIN dim_agency dag ON bids.agency_id = dag.d_agency_id AND dag.is_current
         |LEFT JOIN dim_deal dd ON bids.deal_id = dd.d_deal_id AND dd.is_current""".stripMargin
    }) { t =>
    ensureData(t.spark)
    wideEnrich(t.spark)
  }

  /** Spark side of [[j5WideEnrich]], reusable by PlanSpec. */
  def wideEnrich(spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    ensureData(spark)
    val reqs = RtbIngest.flattenRequests(slice(spark, "requests"))
      .select(col("request_id"), col("imp_id"), col("publisher_id"),
        col("devicetype"), col("device_os"),
        col("device_geo_country").as("geo_country"),
        col("device_geo_region").as("geo_region"))
      .distinct()
    val bids = RtbIngest.flattenBids(slice(spark, "responses"))
      .select(col("request_id"), col("bid_id"), col("imp_id"), col("bidder_id"),
        col("creative_id"), col("strategy_id"), col("line_item_id"),
        col("campaign_id"), col("advertiser_id"), col("agency_id"), col("deal_id"))
      .distinct()
    def cur(df: org.apache.spark.sql.DataFrame) =
      broadcast(df.filter(col("is_current")).drop("is_current"))
    val osDim = spark.createDataFrame(
      Seq(("iOS", "mobile"), ("Android", "mobile"), ("Windows", "desktop"),
        ("macOS", "desktop"), ("Linux", "desktop")))
      .toDF("os_name", "os_family")
    val geoDim = spark.createDataFrame(
      for (c <- Seq("US", "GB", "DE", "FR", "JP", "BR", "IN", "CA"); r <- 0 until 20)
        yield (c, s"$c-$r", s"geo-$c-$r"))
      .toDF("country", "region", "geo_name")
    bids
      .join(reqs, Seq("request_id", "imp_id"))
      .join(cur(rangeDim(spark, 30, "d_publisher_id", "publisher_name", "publisher")),
        col("publisher_id") === col("d_publisher_id"), "left")
      .join(cur(rangeDim(spark, 7, "device_type_code", "device_type_name", "devtype")),
        col("devicetype") === col("device_type_code"), "left")
      .join(broadcast(osDim), col("device_os") === col("os_name"), "left")
      .join(broadcast(geoDim),
        col("geo_country") === col("country") && col("geo_region") === col("region"), "left")
      .join(cur(rangeDim(spark, 25, "d_bidder_id", "bidder_name", "bidder")),
        col("bidder_id") === col("d_bidder_id"), "left")
      .join(cur(rangeDim(spark, 200, "d_creative_id", "creative_name", "creative")),
        col("creative_id") === col("d_creative_id"), "left")
      .join(cur(rangeDim(spark, 180, "d_strategy_id", "strategy_name", "strategy")),
        col("strategy_id") === col("d_strategy_id"), "left")
      .join(cur(rangeDim(spark, 120, "d_line_item_id", "line_item_name", "lineitem")),
        col("line_item_id") === col("d_line_item_id"), "left")
      .join(cur(rangeDim(spark, 60, "d_campaign_id", "campaign_name", "campaign")),
        col("campaign_id") === col("d_campaign_id"), "left")
      .join(cur(rangeDim(spark, 20, "d_advertiser_id", "advertiser_name", "advertiser")),
        col("advertiser_id") === col("d_advertiser_id"), "left")
      .join(cur(rangeDim(spark, 5, "d_agency_id", "agency_name", "agency")),
        col("agency_id") === col("d_agency_id"), "left")
      .join(cur(rangeDim(spark, 40, "d_deal_id", "deal_name", "deal")),
        col("deal_id") === col("d_deal_id"), "left")
      .select(col("request_id"), col("bid_id"),
        col("publisher_name"), col("device_type_name"), col("os_family"),
        col("geo_name"), col("bidder_name"), col("creative_name"),
        col("strategy_name"), col("line_item_name"), col("campaign_name"),
        col("advertiser_name"), col("agency_name"), col("deal_name"))
  }

  /** v_agg_impressions_by_geo.sql one-for-one: hourly impressions per
    * geo with the J8 geo-dim pre-dedup — the dim is collapsed to one
    * row per country_code via MAX(country_name) BEFORE the join
    * (v_agg_impressions_by_geo.sql:11-17), the reference's guard
    * against dim-duplication fanout. Money through exact cents; avg is
    * half-up integer division of the cents total.
    */
  val vImpressionsByGeo: QueryDef = QueryDef(
    "v_impressions_by_geo",
    s"""WITH dim_geo AS (
       |  SELECT country, country || '-' || CAST(r AS VARCHAR) AS region,
       |         'geo-' || country || '-' || CAST(r AS VARCHAR) AS geo_name
       |  FROM (SELECT unnest(['US','GB','DE','FR','JP','BR','IN','CA']) AS country),
       |       (SELECT unnest(generate_series(0, 19)) AS r)
       |),
       |dg AS (SELECT country, max(geo_name) AS country_name
       |       FROM dim_geo GROUP BY country),
       |br AS (SELECT id AS request_id, device['geo']['country'] AS device_geo_country
       |       FROM read_parquet('$root/requests/*.parquet')),
       |imp AS (SELECT request_id, win_price, $tsSql AS event_ts
       |        FROM read_parquet('$root/impressions/*.parquet')),
       |j AS (SELECT imp.event_ts, imp.win_price, br.device_geo_country, dg.country_name
       |      FROM imp
       |      LEFT JOIN br ON imp.request_id = br.request_id
       |      LEFT JOIN dg ON br.device_geo_country = dg.country)
       |SELECT date_trunc('hour', event_ts) AS hour_start,
       |       device_geo_country, country_name,
       |       count(*) AS impression_count,
       |       CAST(sum(CAST(round(win_price * 100) AS BIGINT)) AS DOUBLE) / 100.0
       |         AS total_revenue,
       |       CAST((2 * sum(CAST(round(win_price * 100) AS BIGINT)) + count(*))
       |            // (2 * count(*)) AS DOUBLE) / 100.0 AS avg_win_price
       |FROM j GROUP BY 1, 2, 3""".stripMargin) { t =>
    ensureData(t.spark)
    val geoDim = t.spark.createDataFrame(
      for (c <- Seq("US", "GB", "DE", "FR", "JP", "BR", "IN", "CA"); r <- 0 until 20)
        yield (c, s"$c-$r", s"geo-$c-$r"))
      .toDF("country", "region", "geo_name")
    val dg = geoDim.groupBy(col("country"))
      .agg(max(col("geo_name")).as("country_name"))
    val br = slice(t.spark, "requests")
      .select(col("id").as("request_id"),
        col("device.geo.country").as("device_geo_country"))
    val imp = slice(t.spark, "impressions")
      .select(col("request_id"), col("win_price"),
        RtbIngest.parseTs(col("event_timestamp")).as("event_ts"))
    imp
      .join(br, Seq("request_id"), "left")
      .join(broadcast(dg), col("device_geo_country") === col("country"), "left")
      .groupBy(date_trunc("hour", col("event_ts")).as("hour_start"),
        col("device_geo_country"), col("country_name"))
      .agg(
        count(lit(1)).as("impression_count"),
        (sum(round(col("win_price") * 100).cast("long")).cast("double") / 100.0)
          .as("total_revenue"),
        expr("""CAST((2 * sum(CAST(round(win_price * 100) AS BIGINT)) + count(*))
                DIV (2 * count(*)) AS DOUBLE) / 100.0""").as("avg_win_price"))
  }

  /** v_agg_funnel_by_publisher.sql one-for-one: the 4-stage raw-table
    * LEFT-join chain rolled up per (hour, publisher) with the SCD2
    * publisher dim and the three guarded funnel ratios
    * (fill/win/ctr) — each a double division of two exact distinct
    * counts, identical in both engines.
    */
  val vFunnelByPublisher: QueryDef = QueryDef(
    "v_funnel_by_publisher",
    s"""WITH dim_publisher AS (${rangeDimSql(30, "d_publisher_id", "publisher_name", "publisher")}),
       |br AS (SELECT id AS request_id,
       |              coalesce(site['publisher']['id'], app['publisher']['id']) AS publisher_id,
       |              $tsSql AS event_ts
       |       FROM read_parquet('$root/requests/*.parquet')),
       |resp AS (SELECT id AS response_id, ext['request_id'] AS request_id
       |         FROM read_parquet('$root/responses/*.parquet')),
       |imp AS (SELECT impression_id, response_id
       |        FROM read_parquet('$root/impressions/*.parquet')),
       |cl AS (SELECT click_id, impression_id
       |       FROM read_parquet('$root/clicks/*.parquet')),
       |j AS (
       |  SELECT br.event_ts, br.publisher_id, br.request_id,
       |         resp.response_id, imp.impression_id, cl.click_id,
       |         dp.publisher_name, dp.d_publisher_id
       |  FROM br
       |  LEFT JOIN resp ON br.request_id = resp.request_id
       |  LEFT JOIN imp ON resp.response_id = imp.response_id
       |  LEFT JOIN cl ON imp.impression_id = cl.impression_id
       |  LEFT JOIN dim_publisher dp
       |    ON br.publisher_id = dp.d_publisher_id AND dp.is_current)
       |SELECT date_trunc('hour', event_ts) AS hour_start,
       |       publisher_id, publisher_name,
       |       CASE WHEN d_publisher_id IS NULL THEN NULL
       |            ELSE 'v' || CAST(d_publisher_id % 4 AS VARCHAR) END AS publisher_vertical,
       |       CASE WHEN d_publisher_id IS NULL THEN NULL
       |            ELSE 1 + d_publisher_id % 3 END AS publisher_tier,
       |       count(DISTINCT request_id) AS bid_requests,
       |       count(DISTINCT response_id) AS bid_responses,
       |       count(DISTINCT impression_id) AS impressions,
       |       count(DISTINCT click_id) AS clicks,
       |       CASE WHEN count(DISTINCT request_id) > 0
       |            THEN CAST(count(DISTINCT response_id) AS DOUBLE)
       |                 / CAST(count(DISTINCT request_id) AS DOUBLE)
       |            ELSE 0.0 END AS fill_rate,
       |       CASE WHEN count(DISTINCT response_id) > 0
       |            THEN CAST(count(DISTINCT impression_id) AS DOUBLE)
       |                 / CAST(count(DISTINCT response_id) AS DOUBLE)
       |            ELSE 0.0 END AS win_rate,
       |       CASE WHEN count(DISTINCT impression_id) > 0
       |            THEN CAST(count(DISTINCT click_id) AS DOUBLE)
       |                 / CAST(count(DISTINCT impression_id) AS DOUBLE)
       |            ELSE 0.0 END AS ctr
       |FROM j GROUP BY 1, 2, 3, 4, 5""".stripMargin) { t =>
    ensureData(t.spark)
    val br = slice(t.spark, "requests")
      .select(col("id").as("request_id"),
        coalesce(col("site.publisher.id"), col("app.publisher.id")).as("publisher_id"),
        RtbIngest.parseTs(col("event_timestamp")).as("event_ts"))
    val resp = slice(t.spark, "responses")
      .select(col("id").as("response_id"), col("ext.request_id").as("request_id"))
    val imp = slice(t.spark, "impressions")
      .select(col("impression_id"), col("response_id"))
    val cl = slice(t.spark, "clicks")
      .select(col("click_id"), col("impression_id"))
    val dp = broadcast(
      rangeDim(t.spark, 30, "d_publisher_id", "publisher_name", "publisher")
        .filter(col("is_current")).drop("is_current"))
    br
      .join(resp, Seq("request_id"), "left")
      .join(imp, Seq("response_id"), "left")
      .join(cl, Seq("impression_id"), "left")
      .join(dp, col("publisher_id") === col("d_publisher_id"), "left")
      .groupBy(date_trunc("hour", col("event_ts")).as("hour_start"),
        col("publisher_id"), col("publisher_name"),
        when(col("d_publisher_id").isNotNull,
          concat(lit("v"), (col("d_publisher_id") % 4).cast("string")))
          .as("publisher_vertical"),
        when(col("d_publisher_id").isNotNull, lit(1) + col("d_publisher_id") % 3)
          .as("publisher_tier"))
      .agg(
        countDistinct(col("request_id")).as("bid_requests"),
        countDistinct(col("response_id")).as("bid_responses"),
        countDistinct(col("impression_id")).as("impressions"),
        countDistinct(col("click_id")).as("clicks"),
        when(countDistinct(col("request_id")) > 0,
          countDistinct(col("response_id")).cast("double") /
            countDistinct(col("request_id")).cast("double"))
          .otherwise(0.0).as("fill_rate"),
        when(countDistinct(col("response_id")) > 0,
          countDistinct(col("impression_id")).cast("double") /
            countDistinct(col("response_id")).cast("double"))
          .otherwise(0.0).as("win_rate"),
        when(countDistinct(col("impression_id")) > 0,
          countDistinct(col("click_id")).cast("double") /
            countDistinct(col("impression_id")).cast("double"))
          .otherwise(0.0).as("ctr"))
  }

  /** Derived `format` attribute of the creative dim
    * (dimension_mapping.py creative hierarchy): a pure function of the
    * creative key so both engines rebuild it identically. NULL when the
    * dim misses (LEFT semantics), like the reference's `dc.format`.
    */
  private val formats = Seq("banner", "video", "native", "audio")

  private[operators] def creativeFormatSql(dimKey: String): String =
    s"""CASE WHEN $dimKey IS NULL THEN NULL
       |     ${formats.zipWithIndex.map { case (f, i) =>
              s"WHEN $dimKey % 4 = $i THEN '$f'" }.mkString(" ")}
       |END""".stripMargin

  private[operators] def creativeFormatCol(dimKey: String): org.apache.spark.sql.Column =
    formats.zipWithIndex.foldLeft(when(col(dimKey).isNull, lit(null))) {
      case (c, (f, i)) => c.when(col(dimKey) % 4 === i, f)
    }

  /** The reference's WIDEST query, composed as ONE plan
    * (v_event_enriched_full_funnel.sql:75-112): the row-level 4-stage
    * funnel — request LEFT response-bid LEFT impression LEFT click, so
    * drop-off is visible per row — enriched by all TWELVE `is_current`
    * SCD2 dims, with the three funnel stage flags. The halves are
    * oracle-checked separately (j5_wide_enrich, rtb_funnel_hourly), but
    * only the composed plan catches a wrong join order or a lost
    * broadcast between them; PlanSpec pins every dim join as a
    * BroadcastHashJoin. Each stream is deduplicated by full projected
    * row first (duplicate injection is on), so the LEFT chain's fanout
    * is the funnel's own, identical in both engines. Raw doubles
    * (bid_price, win_price, imp_bidfloor) pass through per-row —
    * bit-identical, no rounding ties. At 100 TB this plan is a fact
    * scan, three key-partitioned stage joins, and 12 broadcasts — the
    * fact rows shuffle only on the funnel keys, never for a dim.
    */
  val vFullFunnel: QueryDef = QueryDef(
    "v_event_enriched_full_funnel", {
      val dims = Seq(
        "dim_publisher" -> rangeDimSql(30, "d_publisher_id", "publisher_name", "publisher"),
        "dim_device_type" -> rangeDimSql(7, "device_type_code", "device_type_name", "devtype"),
        "dim_bidder" -> rangeDimSql(25, "d_bidder_id", "bidder_name", "bidder"),
        "dim_creative" -> rangeDimSql(200, "d_creative_id", "creative_name", "creative"),
        "dim_strategy" -> rangeDimSql(180, "d_strategy_id", "strategy_name", "strategy"),
        "dim_line_item" -> rangeDimSql(120, "d_line_item_id", "line_item_name", "lineitem"),
        "dim_campaign" -> rangeDimSql(60, "d_campaign_id", "campaign_name", "campaign"),
        "dim_advertiser" -> rangeDimSql(20, "d_advertiser_id", "advertiser_name", "advertiser"),
        "dim_agency" -> rangeDimSql(5, "d_agency_id", "agency_name", "agency"),
        "dim_deal" -> rangeDimSql(40, "d_deal_id", "deal_name", "deal"))
        .map { case (n, q) => s"$n AS ($q)" }.mkString(",\n")
      s"""WITH $dims,
         |dim_device_os AS (
         |  SELECT os_name,
         |         CASE WHEN os_name IN ('iOS', 'Android') THEN 'mobile'
         |              ELSE 'desktop' END AS os_family, true AS is_current
         |  FROM (SELECT unnest(['iOS','Android','Windows','macOS','Linux']) AS os_name)
         |),
         |dim_geo AS (
         |  SELECT country, country || '-' || CAST(r AS VARCHAR) AS region,
         |         'geo-' || country || '-' || CAST(r AS VARCHAR) AS geo_name,
         |         true AS is_current
         |  FROM (SELECT unnest(['US','GB','DE','FR','JP','BR','IN','CA']) AS country),
         |       (SELECT unnest(generate_series(0, 19)) AS r)
         |),
         |req AS (
         |  SELECT DISTINCT id AS request_id, imp_t['id'] AS imp_id,
         |         imp_t['banner']['w'] AS banner_w, imp_t['banner']['h'] AS banner_h,
         |         imp_t['bidfloor'] AS imp_bidfloor,
         |         coalesce(site['domain'], app['bundle']) AS property_domain,
         |         coalesce(site['publisher']['id'], app['publisher']['id']) AS publisher_id,
         |         device['devicetype'] AS devicetype, device['os'] AS device_os,
         |         device['geo']['country'] AS device_geo_country,
         |         device['geo']['region'] AS device_geo_region,
         |         cur[1] AS currency, "at" AS auction_type,
         |         regs['coppa'] = 1 AS is_coppa, regs['ext']['gdpr'] = 1 AS is_gdpr,
         |         $tsSql AS request_ts
         |  FROM (SELECT id, unnest(imp) AS imp_t, site, app, device, cur, regs, "at",
         |               event_timestamp
         |        FROM read_parquet('$root/requests/*.parquet'))
         |),
         |bids AS (
         |  SELECT DISTINCT request_id, b['impid'] AS imp_id, response_id,
         |         b['id'] AS bid_id, bidder_id, b['price'] AS bid_price,
         |         b['crid'] AS creative_id, b['strategy_id'] AS strategy_id,
         |         b['line_item_id'] AS line_item_id, b['campaign_id'] AS campaign_id,
         |         b['advertiser_id'] AS advertiser_id, b['agency_id'] AS agency_id,
         |         b['dealid'] AS deal_id, b['adomain'][1] AS ad_domain,
         |         event_ts AS response_ts
         |  FROM (SELECT id AS response_id, ext['request_id'] AS request_id,
         |               $tsSql AS event_ts, sb['seat'] AS bidder_id,
         |               unnest(sb['bid']) AS b
         |        FROM (SELECT id, ext, event_timestamp, unnest(seatbid) AS sb
         |              FROM read_parquet('$root/responses/*.parquet')))
         |),
         |imp AS (
         |  SELECT DISTINCT impression_id, response_id, imp_id, win_price,
         |         win_currency, $tsSql AS impression_ts
         |  FROM read_parquet('$root/impressions/*.parquet')
         |),
         |cl AS (
         |  SELECT DISTINCT click_id, impression_id, click_url, $tsSql AS click_ts
         |  FROM read_parquet('$root/clicks/*.parquet')
         |)
         |SELECT req.request_id, req.imp_id, req.banner_w, req.banner_h,
         |       req.imp_bidfloor, req.property_domain, req.publisher_id,
         |       dp.publisher_name,
         |       CASE WHEN dp.d_publisher_id IS NULL THEN NULL
         |            ELSE 'v' || CAST(dp.d_publisher_id % 4 AS VARCHAR) END
         |         AS publisher_vertical,
         |       CASE WHEN dp.d_publisher_id IS NULL THEN NULL
         |            ELSE 1 + dp.d_publisher_id % 3 END AS publisher_tier,
         |       req.devicetype, ddt.device_type_name, req.device_os, dos.os_family,
         |       req.device_geo_country, req.device_geo_region, dg.geo_name,
         |       req.currency, req.auction_type, req.is_coppa, req.is_gdpr,
         |       req.request_ts,
         |       bids.response_id, bids.bid_id, bids.bidder_id, db.bidder_name,
         |       bids.bid_price, bids.creative_id, dc.creative_name,
         |       ${creativeFormatSql("dc.d_creative_id")} AS creative_format,
         |       bids.strategy_id, ds.strategy_name,
         |       bids.line_item_id, dl.line_item_name,
         |       bids.campaign_id, dcmp.campaign_name,
         |       bids.advertiser_id, da.advertiser_name,
         |       bids.agency_id, dag.agency_name,
         |       bids.deal_id, dd.deal_name,
         |       bids.ad_domain, bids.response_ts,
         |       imp.impression_id, imp.win_price, imp.win_currency, imp.impression_ts,
         |       cl.click_id, cl.click_url, cl.click_ts,
         |       bids.response_id IS NOT NULL AS has_response,
         |       imp.impression_id IS NOT NULL AS has_impression,
         |       cl.click_id IS NOT NULL AS has_click
         |FROM req
         |LEFT JOIN bids ON req.request_id = bids.request_id AND req.imp_id = bids.imp_id
         |LEFT JOIN imp ON bids.response_id = imp.response_id AND bids.imp_id = imp.imp_id
         |LEFT JOIN cl ON imp.impression_id = cl.impression_id
         |LEFT JOIN dim_publisher dp
         |  ON req.publisher_id = dp.d_publisher_id AND dp.is_current
         |LEFT JOIN dim_device_type ddt
         |  ON req.devicetype = ddt.device_type_code AND ddt.is_current
         |LEFT JOIN dim_device_os dos ON req.device_os = dos.os_name AND dos.is_current
         |LEFT JOIN dim_geo dg
         |  ON req.device_geo_country = dg.country AND req.device_geo_region = dg.region
         | AND dg.is_current
         |LEFT JOIN dim_bidder db ON bids.bidder_id = db.d_bidder_id AND db.is_current
         |LEFT JOIN dim_creative dc ON bids.creative_id = dc.d_creative_id AND dc.is_current
         |LEFT JOIN dim_strategy ds ON bids.strategy_id = ds.d_strategy_id AND ds.is_current
         |LEFT JOIN dim_line_item dl ON bids.line_item_id = dl.d_line_item_id AND dl.is_current
         |LEFT JOIN dim_campaign dcmp ON bids.campaign_id = dcmp.d_campaign_id AND dcmp.is_current
         |LEFT JOIN dim_advertiser da ON bids.advertiser_id = da.d_advertiser_id AND da.is_current
         |LEFT JOIN dim_agency dag ON bids.agency_id = dag.d_agency_id AND dag.is_current
         |LEFT JOIN dim_deal dd ON bids.deal_id = dd.d_deal_id AND dd.is_current""".stripMargin
    }) { t =>
    ensureData(t.spark)
    fullFunnelEnriched(t.spark)
  }

  /** Spark side of [[vFullFunnel]]. */
  private def fullFunnelEnriched(
      spark: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    val req = RtbIngest.flattenRequests(spark.read.parquet(s"$root/requests"))
      .select(col("request_id"), col("imp_id"), col("banner_w"), col("banner_h"),
        col("imp_bidfloor"), col("property_domain"), col("publisher_id"),
        col("devicetype"), col("device_os"),
        col("device_geo_country"), col("device_geo_region"),
        col("currency"), col("auction_type"), col("is_coppa"), col("is_gdpr"),
        col("event_ts").as("request_ts"))
      .distinct()
    val bids = RtbIngest.flattenBids(spark.read.parquet(s"$root/responses"))
      .select(col("request_id"), col("imp_id"), col("response_id"), col("bid_id"),
        col("bidder_id"), col("bid_price"), col("creative_id"), col("strategy_id"),
        col("line_item_id"), col("campaign_id"), col("advertiser_id"),
        col("agency_id"), col("deal_id"), col("ad_domain"),
        col("event_ts").as("response_ts"))
      .distinct()
    val imp = spark.read.parquet(s"$root/impressions")
      .select(col("impression_id"), col("response_id"), col("imp_id"),
        col("win_price"), col("win_currency"),
        RtbIngest.parseTs(col("event_timestamp")).as("impression_ts"))
      .distinct()
    val cl = spark.read.parquet(s"$root/clicks")
      .select(col("click_id"), col("impression_id"), col("click_url"),
        RtbIngest.parseTs(col("event_timestamp")).as("click_ts"))
      .distinct()
    def cur(df: org.apache.spark.sql.DataFrame) =
      broadcast(df.filter(col("is_current")).drop("is_current"))
    val osDim = spark.createDataFrame(
      Seq(("iOS", "mobile"), ("Android", "mobile"), ("Windows", "desktop"),
        ("macOS", "desktop"), ("Linux", "desktop")))
      .toDF("os_name", "os_family")
    val geoDim = spark.createDataFrame(
      for (c <- Seq("US", "GB", "DE", "FR", "JP", "BR", "IN", "CA"); r <- 0 until 20)
        yield (c, s"$c-$r", s"geo-$c-$r"))
      .toDF("country", "region", "geo_name")
    req
      .join(bids, Seq("request_id", "imp_id"), "left")
      .join(imp, Seq("response_id", "imp_id"), "left")
      .join(cl, Seq("impression_id"), "left")
      .join(cur(rangeDim(spark, 30, "d_publisher_id", "publisher_name", "publisher")),
        col("publisher_id") === col("d_publisher_id"), "left")
      .join(cur(rangeDim(spark, 7, "device_type_code", "device_type_name", "devtype")),
        col("devicetype") === col("device_type_code"), "left")
      .join(broadcast(osDim), col("device_os") === col("os_name"), "left")
      .join(broadcast(geoDim),
        col("device_geo_country") === col("country") &&
          col("device_geo_region") === col("region"), "left")
      .join(cur(rangeDim(spark, 25, "d_bidder_id", "bidder_name", "bidder")),
        col("bidder_id") === col("d_bidder_id"), "left")
      .join(cur(rangeDim(spark, 200, "d_creative_id", "creative_name", "creative")),
        col("creative_id") === col("d_creative_id"), "left")
      .join(cur(rangeDim(spark, 180, "d_strategy_id", "strategy_name", "strategy")),
        col("strategy_id") === col("d_strategy_id"), "left")
      .join(cur(rangeDim(spark, 120, "d_line_item_id", "line_item_name", "lineitem")),
        col("line_item_id") === col("d_line_item_id"), "left")
      .join(cur(rangeDim(spark, 60, "d_campaign_id", "campaign_name", "campaign")),
        col("campaign_id") === col("d_campaign_id"), "left")
      .join(cur(rangeDim(spark, 20, "d_advertiser_id", "advertiser_name", "advertiser")),
        col("advertiser_id") === col("d_advertiser_id"), "left")
      .join(cur(rangeDim(spark, 5, "d_agency_id", "agency_name", "agency")),
        col("agency_id") === col("d_agency_id"), "left")
      .join(cur(rangeDim(spark, 40, "d_deal_id", "deal_name", "deal")),
        col("deal_id") === col("d_deal_id"), "left")
      .select(
        col("request_id"), col("imp_id"), col("banner_w"), col("banner_h"),
        col("imp_bidfloor"), col("property_domain"), col("publisher_id"),
        col("publisher_name"),
        when(col("d_publisher_id").isNotNull,
          concat(lit("v"), (col("d_publisher_id") % 4).cast("string")))
          .as("publisher_vertical"),
        when(col("d_publisher_id").isNotNull, lit(1) + col("d_publisher_id") % 3)
          .as("publisher_tier"),
        col("devicetype"), col("device_type_name"), col("device_os"), col("os_family"),
        col("device_geo_country"), col("device_geo_region"), col("geo_name"),
        col("currency"), col("auction_type"), col("is_coppa"), col("is_gdpr"),
        col("request_ts"),
        col("response_id"), col("bid_id"), col("bidder_id"), col("bidder_name"),
        col("bid_price"), col("creative_id"), col("creative_name"),
        creativeFormatCol("d_creative_id").as("creative_format"),
        col("strategy_id"), col("strategy_name"),
        col("line_item_id"), col("line_item_name"),
        col("campaign_id"), col("campaign_name"),
        col("advertiser_id"), col("advertiser_name"),
        col("agency_id"), col("agency_name"),
        col("deal_id"), col("deal_name"),
        col("ad_domain"), col("response_ts"),
        col("impression_id"), col("win_price"), col("win_currency"), col("impression_ts"),
        col("click_id"), col("click_url"), col("click_ts"),
        col("response_id").isNotNull.as("has_response"),
        col("impression_id").isNotNull.as("has_impression"),
        col("click_id").isNotNull.as("has_click"))
  }

  /** v_agg_metrics_by_bidder.sql one-for-one: hourly bidder KPIs straight
    * off the raw impressions table with the `is_current` bidder dim
    * (v_agg_metrics_by_bidder.sql:3-15). `bidder_domain` is the dim's
    * derived `domain` attribute — a pure function of the key, rebuilt
    * identically by both engines, NULL on a dim miss. Money routes
    * through exact integer cents (the suite's money discipline — raw
    * double SUM/AVG is summation-order-dependent and would hash-flap);
    * avg_cpm is half-up integer division of the cents total. One scan,
    * one broadcast join, one aggregation — no shape change at 100 TB.
    */
  val vAggMetricsByBidder: QueryDef = QueryDef(
    "v_agg_metrics_by_bidder",
    s"""WITH dim_bidder AS (${rangeDimSql(25, "d_bidder_id", "bidder_name", "bidder")})
       |SELECT date_trunc('hour', $tsSql) AS hour_start,
       |       imp.bidder_id, db.bidder_name,
       |       CASE WHEN db.d_bidder_id IS NULL THEN NULL
       |            ELSE 'dsp-' || CAST(db.d_bidder_id AS VARCHAR) || '.example.com'
       |       END AS bidder_domain,
       |       count(*) AS win_count,
       |       CAST(sum(CAST(round(win_price * 100) AS BIGINT)) AS DOUBLE) / 100.0
       |         AS revenue,
       |       CAST((2 * sum(CAST(round(win_price * 100) AS BIGINT)) + count(*))
       |            // (2 * count(*)) AS DOUBLE) / 100.0 AS avg_cpm
       |FROM read_parquet('$root/impressions/*.parquet') imp
       |LEFT JOIN dim_bidder db
       |  ON imp.bidder_id = db.d_bidder_id AND db.is_current
       |GROUP BY 1, 2, 3, 4""".stripMargin) { t =>
    ensureData(t.spark)
    val db = broadcast(
      rangeDim(t.spark, 25, "d_bidder_id", "bidder_name", "bidder")
        .filter(col("is_current")).drop("is_current"))
    slice(t.spark, "impressions")
      .join(db, col("bidder_id") === col("d_bidder_id"), "left")
      .groupBy(
        date_trunc("hour", RtbIngest.parseTs(col("event_timestamp"))).as("hour_start"),
        col("bidder_id"), col("bidder_name"),
        when(col("d_bidder_id").isNotNull,
          concat(lit("dsp-"), col("d_bidder_id").cast("string"), lit(".example.com")))
          .as("bidder_domain"))
      .agg(
        count(lit(1)).as("win_count"),
        (sum(round(col("win_price") * 100).cast("long")).cast("double") / 100.0)
          .as("revenue"),
        expr("""CAST((2 * sum(CAST(round(win_price * 100) AS BIGINT)) + count(*))
                DIV (2 * count(*)) AS DOUBLE) / 100.0""").as("avg_cpm"))
  }

  /** v_agg_serving_metrics.sql one-for-one, including its J8 guard: the
    * clicks side is PRE-AGGREGATED to one (impression_id, click_count)
    * row BEFORE the join (v_agg_serving_metrics.sql:15-20) — joining raw
    * clicks would fan out duplicate-click impressions and corrupt
    * count(*). ctr is a double division of two exact integers, identical
    * in both engines; revenue through exact cents as everywhere. The
    * pre-agg also bounds the join's build side at 100 TB: one row per
    * clicked impression, not one per click.
    */
  val vAggServingMetrics: QueryDef = QueryDef(
    "v_agg_serving_metrics",
    s"""WITH dim_bidder AS (${rangeDimSql(25, "d_bidder_id", "bidder_name", "bidder")}),
       |cl AS (SELECT impression_id, count(*) AS click_count
       |       FROM read_parquet('$root/clicks/*.parquet') GROUP BY impression_id)
       |SELECT date_trunc('hour', $tsSql) AS hour_start,
       |       imp.bidder_id, db.bidder_name,
       |       count(*) AS impressions,
       |       CAST(coalesce(sum(cl.click_count), 0) AS BIGINT) AS clicks,
       |       CAST(sum(CAST(round(win_price * 100) AS BIGINT)) AS DOUBLE) / 100.0
       |         AS revenue,
       |       CASE WHEN count(*) > 0
       |            THEN CAST(coalesce(sum(cl.click_count), 0) AS DOUBLE)
       |                 / CAST(count(*) AS DOUBLE)
       |            ELSE 0.0 END AS ctr
       |FROM read_parquet('$root/impressions/*.parquet') imp
       |LEFT JOIN cl ON imp.impression_id = cl.impression_id
       |LEFT JOIN dim_bidder db
       |  ON imp.bidder_id = db.d_bidder_id AND db.is_current
       |GROUP BY 1, 2, 3""".stripMargin) { t =>
    ensureData(t.spark)
    val cl = slice(t.spark, "clicks")
      .groupBy(col("impression_id")).agg(count(lit(1)).as("click_count"))
    val db = broadcast(
      rangeDim(t.spark, 25, "d_bidder_id", "bidder_name", "bidder")
        .filter(col("is_current")).drop("is_current"))
    slice(t.spark, "impressions")
      .join(cl, Seq("impression_id"), "left")
      .join(db, col("bidder_id") === col("d_bidder_id"), "left")
      .groupBy(
        date_trunc("hour", RtbIngest.parseTs(col("event_timestamp"))).as("hour_start"),
        col("bidder_id"), col("bidder_name"))
      .agg(
        count(lit(1)).as("impressions"),
        coalesce(sum(col("click_count")), lit(0L)).as("clicks"),
        (sum(round(col("win_price") * 100).cast("long")).cast("double") / 100.0)
          .as("revenue"),
        when(count(lit(1)) > 0,
          coalesce(sum(col("click_count")), lit(0L)).cast("double") /
            count(lit(1)).cast("double"))
          .otherwise(0.0).as("ctr"))
  }

  /** v_event_enriched_clicks.sql one-for-one: the raw clicks table LEFT
    * joined to the `is_current` bidder and creative SCD2 dims
    * (v_event_enriched_clicks.sql:14-18), projecting the reference's
    * exact column list. A pure per-row view — no aggregation, duplicate
    * click rows pass through untouched — so at 100 TB it is a scan plus
    * two broadcast joins, zero shuffles (dims are PK-keyed and tiny).
    */
  val vEventEnrichedClicks: QueryDef = QueryDef(
    "v_event_enriched_clicks",
    s"""WITH dim_bidder AS (${rangeDimSql(25, "d_bidder_id", "bidder_name", "bidder")}),
       |dim_creative AS (${rangeDimSql(200, "d_creative_id", "creative_name", "creative")})
       |SELECT cl.click_id, cl.request_id, cl.impression_id, cl.imp_id,
       |       cl.bidder_id, db.bidder_name,
       |       cl.creative_id, dc.creative_name,
       |       ${creativeFormatSql("dc.d_creative_id")} AS creative_format,
       |       cl.click_url, cl.event_timestamp
       |FROM read_parquet('$root/clicks/*.parquet') cl
       |LEFT JOIN dim_bidder db
       |  ON cl.bidder_id = db.d_bidder_id AND db.is_current
       |LEFT JOIN dim_creative dc
       |  ON cl.creative_id = dc.d_creative_id AND dc.is_current""".stripMargin) { t =>
    ensureData(t.spark)
    def cur(df: org.apache.spark.sql.DataFrame) =
      broadcast(df.filter(col("is_current")).drop("is_current"))
    slice(t.spark, "clicks")
      .join(cur(rangeDim(t.spark, 25, "d_bidder_id", "bidder_name", "bidder")),
        col("bidder_id") === col("d_bidder_id"), "left")
      .join(cur(rangeDim(t.spark, 200, "d_creative_id", "creative_name", "creative")),
        col("creative_id") === col("d_creative_id"), "left")
      .select(col("click_id"), col("request_id"), col("impression_id"),
        col("imp_id"), col("bidder_id"), col("bidder_name"),
        col("creative_id"), col("creative_name"),
        creativeFormatCol("d_creative_id").as("creative_format"),
        col("click_url"), col("event_timestamp"))
  }

  /** v_event_enriched_impressions.sql one-for-one: the raw impressions
    * table LEFT joined to the `is_current` bidder and creative dims
    * (v_event_enriched_impressions.sql:17-21), with `win_price` carried
    * through per-row (no aggregation, so the raw double is bit-identical
    * in both engines). Same scan + two broadcast joins shape as clicks.
    */
  val vEventEnrichedImpressions: QueryDef = QueryDef(
    "v_event_enriched_impressions",
    s"""WITH dim_bidder AS (${rangeDimSql(25, "d_bidder_id", "bidder_name", "bidder")}),
       |dim_creative AS (${rangeDimSql(200, "d_creative_id", "creative_name", "creative")})
       |SELECT imp.impression_id, imp.request_id, imp.response_id, imp.imp_id,
       |       imp.bidder_id, db.bidder_name,
       |       imp.win_price, imp.win_currency,
       |       imp.creative_id, dc.creative_name,
       |       ${creativeFormatSql("dc.d_creative_id")} AS creative_format,
       |       imp.ad_domain, imp.event_timestamp
       |FROM read_parquet('$root/impressions/*.parquet') imp
       |LEFT JOIN dim_bidder db
       |  ON imp.bidder_id = db.d_bidder_id AND db.is_current
       |LEFT JOIN dim_creative dc
       |  ON imp.creative_id = dc.d_creative_id AND dc.is_current""".stripMargin) { t =>
    ensureData(t.spark)
    def cur(df: org.apache.spark.sql.DataFrame) =
      broadcast(df.filter(col("is_current")).drop("is_current"))
    slice(t.spark, "impressions")
      .join(cur(rangeDim(t.spark, 25, "d_bidder_id", "bidder_name", "bidder")),
        col("bidder_id") === col("d_bidder_id"), "left")
      .join(cur(rangeDim(t.spark, 200, "d_creative_id", "creative_name", "creative")),
        col("creative_id") === col("d_creative_id"), "left")
      .select(col("impression_id"), col("request_id"), col("response_id"),
        col("imp_id"), col("bidder_id"), col("bidder_name"),
        col("win_price"), col("win_currency"),
        col("creative_id"), col("creative_name"),
        creativeFormatCol("d_creative_id").as("creative_format"),
        col("ad_domain"), col("event_timestamp"))
  }

  val all: Seq[QueryDef] =
    Seq(rtbIngestEnrich, rtbAvroRoundtrip, rtbFlattenBids, rtbFunnelHourly,
      vBidLandscapeHourly, vRealtimeServing1m, vAuctionTypeDistribution,
      j5WideEnrich, vImpressionsByGeo, vFunnelByPublisher,
      vEventEnrichedClicks, vEventEnrichedImpressions, vFullFunnel,
      vAggMetricsByBidder, vAggServingMetrics)
}
