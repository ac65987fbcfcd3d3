package graft.streaming

import graft.model.OpenRtb._
import graft.rtb.RtbIngest
import graft.tables.{DayTransform, GraftTable, TableCatalog, TableDef}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The reference's deployment topology as a library API: three Flink
  * jobs chained through Iceberg tables (README.md architecture diagram)
  * become streaming ingestion into the snapshot-log tables plus batch
  * serving views over them.
  *
  *  - [[ingestion]] — the statement-set job (insert_jobs.sql:11-235):
  *    four watermarked sources fan into the stored tables; the request
  *    stream feeds clean AND rejected from ONE cached micro-batch pass
  *    (X1), every sink exactly-once (S4).
  *  - [[servingFunnelHourly]] — the Trino funnel view
  *    (v_event_enriched_full_funnel.sql:75-84 + v_agg_funnel_by_publisher):
  *    batch 4-stage funnel over the INGESTED tables, reusing the same
  *    chained-join/agg code as the raw-events form, so
  *    "stream through storage, then serve" must equal "aggregate the
  *    raw events directly" row for row.
  *  - [[servingMetricsByBidder]] — v_agg_serving_metrics.sql:15-20 (J8):
  *    clicks pre-aggregated per impression BEFORE the join (the fanout
  *    guard), then hourly bidder CTR.
  *
  * Scale: tables are day-partitioned on event time like the reference's
  * (bid_requests.yml:44-48); appends are the only streaming write shape
  * (continuous revision lives in the upsert sinks, [[Sinks]]); serving
  * reads prune by partition + footer stats.
  */
object Jobs {

  val cleanTable = "clean_requests"
  val rejectedTable = "rejected_requests"
  val bidsTable = "bids"
  val impressionsTable = "impressions"
  val clicksTable = "clicks"

  private def emptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), schema)

  private def flatRequestSchema(spark: SparkSession): StructType = {
    import spark.implicits._
    RtbIngest.flattenRequests(spark.emptyDataset[BidRequest].toDF()).schema
  }

  private def flatBidSchema(spark: SparkSession): StructType = {
    import spark.implicits._
    RtbIngest.flattenBids(spark.emptyDataset[BidResponse].toDF()).schema
  }

  private def withEventTs(spark: SparkSession, base: StructType): StructType =
    emptyDf(spark, base)
      .withColumn("event_ts", RtbIngest.parseTs(col("event_timestamp"))).schema

  /** Declarative registry of the ingestion tables (S6) — all
    * day-partitioned on the parsed event time.
    */
  def ingestionTableDefs(spark: SparkSession): Seq[TableDef] = {
    import spark.implicits._
    Seq(
      TableDef(cleanTable, flatRequestSchema(spark), Seq(DayTransform("event_ts"))),
      TableDef(rejectedTable, flatRequestSchema(spark), Seq(DayTransform("event_ts"))),
      TableDef(bidsTable, flatBidSchema(spark), Seq(DayTransform("event_ts"))),
      TableDef(impressionsTable,
        withEventTs(spark, spark.emptyDataset[ImpressionEvent].schema),
        Seq(DayTransform("event_ts"))),
      TableDef(clicksTable,
        withEventTs(spark, spark.emptyDataset[ClickEvent].schema),
        Seq(DayTransform("event_ts"))))
  }

  /** The running ingestion job: one streaming query per source stream,
    * exactly like the reference's one statement set over four topics.
    */
  final case class IngestionPipeline(queries: Seq[StreamingQuery]) {
    def processAllAvailable(): Unit = queries.foreach(_.processAllAvailable())
    def stop(): Unit = queries.foreach(_.stop())
  }

  /** S1/S2/S4/X1 — the ingestion statement set. `requests`..`clicks` are
    * UNBOUNDED streaming DataFrames of the nested wire rows (Kafka in
    * the reference; MemoryStream/file streams offline — same plan either
    * way). The request query is the fan-out: flatten ONCE per
    * micro-batch, cache, split into clean/rejected by `reject_reason`,
    * each side exactly-once into its table.
    */
  def ingestion(
      requests: DataFrame,
      responses: DataFrame,
      impressions: DataFrame,
      clicks: DataFrame,
      cat: TableCatalog,
      checkpointRoot: String): IngestionPipeline = {
    val clean = cat.table(cleanTable)
    val rejected = cat.table(rejectedTable)
    val bids = cat.table(bidsTable)
    val imps = cat.table(impressionsTable)
    val clks = cat.table(clicksTable)

    val flatRequests = RtbIngest.flattenRequests(requests
      .withColumn("event_ts", RtbIngest.parseTs(col("event_timestamp")))
      .withWatermark("event_ts", "30 seconds") // S2 (create_tables.sql:73)
      .drop("event_ts"))
    val requestsQ = Sinks.start(flatRequests, s"$checkpointRoot/requests") { (flat, batchId) =>
      Sinks.exactlyOnce(clean, "ingest", batchId) {
        clean.append(RtbIngest.cleanRequests(flat))
      }
      Sinks.exactlyOnce(rejected, "ingest", batchId) {
        rejected.append(RtbIngest.rejectedRequests(flat))
      }
    }

    def appendQ(src: DataFrame, table: GraftTable, name: String,
        transform: DataFrame => DataFrame): StreamingQuery =
      Sinks.into(src, table, "ingest", s"$checkpointRoot/$name")(b =>
        table.append(transform(b)))

    IngestionPipeline(Seq(
      requestsQ,
      appendQ(responses, bids, "responses", RtbIngest.flattenBids),
      appendQ(impressions, imps, "impressions",
        _.withColumn("event_ts", RtbIngest.parseTs(col("event_timestamp")))),
      appendQ(clicks, clks, "clicks",
        _.withColumn("event_ts", RtbIngest.parseTs(col("event_timestamp"))))))
  }

  /** The four wire subjects, named after the reference's Kafka topics
    * (setup.sh: bid-requests / bid-responses / impressions / clicks)
    * under the Confluent `<topic>-value` convention.
    */
  val wireSubjects: Seq[String] = Seq("bid-requests-value",
    "bid-responses-value", "impressions-value", "clicks-value")

  /** S1 complete — the SAME ingestion statement set fed by
    * Confluent-framed Avro BINARY streams (one `value` column, the
    * Kafka record payload shape) instead of typed rows: each stream
    * decodes with the registry's latest reader for its subject, writer
    * schemas resolved per frame id (so mixed-version topics decode in
    * one pass), then flattens and lands exactly as [[ingestion]] does.
    * The decode is a native expression in the scan projection — the
    * wire leg adds zero shuffles.
    */
  def wireIngestion(
      requestFrames: DataFrame,
      responseFrames: DataFrame,
      impressionFrames: DataFrame,
      clickFrames: DataFrame,
      registry: graft.sources.SchemaRegistryClient,
      cat: TableCatalog,
      checkpointRoot: String): IngestionPipeline = {
    def decode(frames: DataFrame, subject: String): DataFrame = {
      val (_, reader) = registry.latest(subject)
      frames.select(graft.sources.AvroWire.fromWire(
        col("value"), reader, registry.writers).as("r")).select("r.*")
    }
    ingestion(
      decode(requestFrames, wireSubjects(0)),
      decode(responseFrames, wireSubjects(1)),
      decode(impressionFrames, wireSubjects(2)),
      decode(clickFrames, wireSubjects(3)),
      cat, checkpointRoot)
  }

  /** The reference's four topic names (scripts/setup.sh). */
  val wireTopics: Seq[String] =
    Seq("bid-requests", "bid-responses", "impressions", "clicks")

  /** [[wireIngestion]] with the topics pulled from a [[graft.sources
    * .FrameSource]] under the reference's names — the whole-deployment
    * entry point (PORTING.md §1): a Kafka-equipped user passes a
    * FrameSource over `spark.readStream.format("kafka")` and a registry
    * client over their Schema Registry, and the statement set runs
    * unchanged.
    */
  def wireIngestion(
      spark: SparkSession,
      source: graft.sources.FrameSource,
      registry: graft.sources.SchemaRegistryClient,
      cat: TableCatalog,
      checkpointRoot: String): IngestionPipeline =
    wireIngestion(
      source.frames(spark, wireTopics(0)),
      source.frames(spark, wireTopics(1)),
      source.frames(spark, wireTopics(2)),
      source.frames(spark, wireTopics(3)),
      registry, cat, checkpointRoot)

  val pairsTable = "impression_request_pairs"
  val geoTable = "hourly_impressions_by_geo"

  /** Tables of the aggregation job (S6). The pairs table is the
    * storage link between its two queries; the geo table is the keyed
    * upsert serving table (hourly_impressions_by_geo.yml:17-21).
    */
  def aggregationTableDefs(spark: SparkSession): Seq[TableDef] = {
    import org.apache.spark.sql.types._
    val pairsSchema = StructType(Seq(
      StructField("impression_id", StringType),
      StructField("request_id", StringType),
      StructField("country", StringType),
      StructField("win_price", DoubleType),
      StructField("event_ts", TimestampType)))
    val geoSchema = StructType(Seq(
      StructField("hour", TimestampType),
      StructField("country", StringType),
      StructField("n_impressions", LongType),
      StructField("total_win_cents", LongType)))
    Seq(
      TableDef(pairsTable, pairsSchema),
      // merge-on-read: this table is revised EVERY micro-batch, the
      // exact sink shape Sinks.hourlyUpsert documents as needing O(batch)
      // commits (copy-on-write would rewrite the whole table each batch)
      TableDef(geoTable, geoSchema, keys = Seq("hour", "country"), mergeOnRead = true))
  }

  /** The aggregation job (aggregation_jobs.sql:19-55) over the INGESTED
    * tables: per-stream dedup within the watermark (A3, :31-50), a
    * stream-stream interval join back to the request's geo (J1, :42-52),
    * and a continuously-revised hourly upsert (A7/S5, :19-26). Spark
    * rejects an event-time aggregation directly downstream of a
    * stream-stream join in one query (two event-time columns — the same
    * wall the reference hit in Flink, hence its FLOOR+upsert comment),
    * so the job is TWO queries chained through the pairs table, exactly
    * how the reference chains its Flink jobs through Iceberg:
    *
    *   clean_requests ─┐ (tail)     dedup ⋈ interval ┌→ pairs (append)
    *   impressions   ──┘                              └→ tail → hourly agg
    *                                                       → geo upsert
    *
    * State stays bounded by the watermark + join bounds (W4): a request
    * is droppable once the impression-side watermark passes its
    * event time + the join window.
    */
  def aggregationGeo(cat: TableCatalog, checkpointRoot: String): IngestionPipeline = {
    val clean = cat.table(cleanTable)
    val imps = cat.table(impressionsTable)
    val pairs = cat.table(pairsTable)
    val geo = cat.table(geoTable)
    val spark = clean.spark

    val r = Sinks.tail(clean)
      .select(col("request_id"), col("device_geo_country").as("country"), col("event_ts"))
      .withWatermark("event_ts", "30 seconds")
      .dropDuplicatesWithinWatermark("request_id") // per-imp rows + injected dups
      .alias("r")
    val i = Sinks.tail(imps)
      .select(col("impression_id"), col("request_id"), col("win_price"), col("event_ts"))
      .withWatermark("event_ts", "30 seconds")
      .dropDuplicatesWithinWatermark("impression_id")
      .alias("i")
    // request→impression latency ≤ 5 s (response) + 10 s (win) by the
    // funnel's construction; the two-sided bound lets BOTH states evict
    val joined = i.join(r,
      expr("""i.request_id = r.request_id AND
             |r.event_ts BETWEEN i.event_ts - INTERVAL 15 SECONDS AND i.event_ts""".stripMargin))
      .select(col("i.impression_id"), col("i.request_id"), col("r.country"),
        col("i.win_price"), col("i.event_ts"))

    val pairsQ = Sinks.into(joined, pairs, "agg", s"$checkpointRoot/pairs")(pairs.append)

    // cent-exact win spend: win prices are cent-denominated, so the sum
    // is order-independent as a long (a double sum's rounding would not be)
    val hourly = Sinks.tail(pairs)
      .withWatermark("event_ts", "30 seconds")
      // window() grouping, not a derived date_trunc column — the
      // streaming agg's state schema only resolves the blessed window
      // construct (a derived grouping column dies with
      // INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND in update mode)
      .groupBy(window(col("event_ts"), "1 hour"), col("country"))
      .agg(count(lit(1)).as("n_impressions"),
        sum(round(col("win_price") * 100).cast("long")).as("total_win_cents"))
      .select(col("window.start").as("hour"), col("country"),
        col("n_impressions"), col("total_win_cents"))
    // detach from the streaming plan before the upsert: the COW upsert
    // joins the batch against the table AND unions it, and the
    // doubly-referenced micro-batch agg plan trips AQE exchange reuse
    // (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND binding the partial agg
    // output); an RDD boundary gives the reused subtree stable attributes
    val aggQ = Sinks.into(hourly, geo, "agg", s"$checkpointRoot/geo", "update")(b =>
      geo.upsert(spark.createDataFrame(b.rdd, b.schema)))

    IngestionPipeline(Seq(pairsQ, aggQ))
  }

  val funnelSummaryTable = "funnel_request_summaries"
  val funnelRollupTable = "hourly_funnel_metrics"

  /** Tables of the funnel job (S6): final per-request summaries, then
    * the hourly rollup — both plain appends (rows are final when
    * emitted).
    */
  def funnelTableDefs(spark: SparkSession): Seq[TableDef] = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val rollupSchema = StructType(Seq(
      StructField("hour", TimestampType),
      StructField("n_requests", LongType),
      StructField("n_responses", LongType),
      StructField("n_impressions", LongType),
      StructField("n_clicks", LongType)))
    Seq(
      TableDef(funnelSummaryTable,
        spark.emptyDataset[RtbFunnel.RequestFunnelSummary].schema),
      TableDef(funnelRollupTable, rollupSchema))
  }

  /** The funnel job (funnel_jobs.sql:54-99) on the real OpenRTB model:
    * the 4-stage stateful funnel emits one FINAL summary per request
    * ([[RtbFunnel]]), lands it in the summary table, and a second query
    * tails that table for the hourly rollup — chained through storage
    * because a window aggregation cannot sit directly on a
    * flatMapGroupsWithState operator (min-of-watermarks deadlock; the
    * reference chains its Flink jobs through Iceberg for the same
    * reason, see [[FunnelState.funnelHourly]]).
    *
    * The width rule ([[Sinks.perCore]]) applies to the unioned stage
    * events, upstream of the state shuffle: there a source with a
    * partition per append would run one task per chunk of all four
    * topics. `summarize` dedups by event id, so the order of events
    * within a group does not matter.
    */
  def funnel(
      requests: DataFrame,
      responses: DataFrame,
      impressions: DataFrame,
      clicks: DataFrame,
      cat: TableCatalog,
      checkpointRoot: String): IngestionPipeline = {
    val summary = cat.table(funnelSummaryTable)
    val rollup = cat.table(funnelRollupTable)

    val summaryQ = Sinks.into(
      RtbFunnel.funnelSummaries(Sinks.perCore(
        RtbFunnel.stageEvents(requests, responses, impressions, clicks))).toDF(),
      summary, "funnel", s"$checkpointRoot/funnel_summary")(summary.append)

    val rollups = Sinks.tail(summary)
      .withWatermark("r_ts", FunnelState.RollupDelay)
      .groupBy(window(col("r_ts"), "1 hour"))
      .agg(count(lit(1)).as("n_requests"),
        sum(col("n_responses")).as("n_responses"),
        sum(col("n_impressions")).as("n_impressions"),
        sum(col("n_clicks")).as("n_clicks"))
      .select(col("window.start").as("hour"), col("n_requests"),
        col("n_responses"), col("n_impressions"), col("n_clicks"))
    val rollupQ = Sinks.into(rollups, rollup, "funnel",
      s"$checkpointRoot/funnel_rollup")(rollup.append)

    IngestionPipeline(Seq(summaryQ, rollupQ))
  }

  /** J3/A2/A3/P10/P11 over the STORED tables — the reference's serving
    * funnel view. Requests = clean ∪ rejected (the raw table analog);
    * every stage dedups on its event id before the chained joins.
    */
  def servingFunnelHourly(cat: TableCatalog): DataFrame = {
    val r = cat.table(cleanTable).readLogical()
      .unionByName(cat.table(rejectedTable).readLogical())
      .select(col("request_id"), col("event_ts").as("r_ts"))
      .dropDuplicates("request_id")
    val b = cat.table(bidsTable).readLogical()
      .select(col("response_id"), col("request_id").as("b_request_id"),
        col("event_ts").as("b_ts"))
      .dropDuplicates("response_id")
    val i = cat.table(impressionsTable).readLogical()
      .select(col("impression_id"), col("request_id").as("i_request_id"),
        col("event_ts").as("i_ts"))
      .dropDuplicates("impression_id")
    val c = cat.table(clicksTable).readLogical()
      .select(col("click_id"), col("impression_id").as("c_impression_id"),
        col("event_ts").as("c_ts"))
      .dropDuplicates("click_id")
    RtbIngest.funnelHourlyFromStages(r, b, i, c)
  }

  /** J8/A1 — v_agg_serving_metrics: clicks pre-aggregated per impression
    * BEFORE the join (a click burst on one impression must not fan the
    * join out), then hourly per-bidder win spend and CTR.
    */
  def servingMetricsByBidder(cat: TableCatalog): DataFrame = {
    val i = cat.table(impressionsTable).readLogical()
      .dropDuplicates("impression_id")
    val clicksPer = cat.table(clicksTable).readLogical()
      .dropDuplicates("click_id")
      .groupBy(col("impression_id"))
      .agg(count(lit(1)).as("click_count"))
    i.join(clicksPer, Seq("impression_id"), "left")
      .groupBy(date_trunc("hour", col("event_ts")).as("hour"), col("bidder_id"))
      .agg(
        count(lit(1)).as("n_impressions"),
        round(sum(col("win_price")), 2).as("total_win_price"),
        sum(coalesce(col("click_count"), lit(0L))).as("n_clicks"))
      .withColumn("ctr",
        when(col("n_impressions") > 0,
          round(col("n_clicks").cast("double") / col("n_impressions"), 4)).otherwise(0.0))
  }
}
