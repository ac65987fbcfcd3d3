package graft.pipebench

import graft.SparkEntry
import graft.gen.RtbGenerator
import graft.materialize.{FactBound, MatView, Materializer}
import graft.model.OpenRtb.ImpressionEvent
import graft.rtb.RtbIngest
import graft.streaming.Jobs
import graft.tables.{GraftTable, TableCatalog, TableDef}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `serve`: a closed loop with one client over a fixed mix of reads —
  * the two serving views over tables landed during set-up, Trino-view,
  * dashboard and example-query registry rows over their shared RTB
  * fixture, and batch `functions` rows (minhash dedup, the dot-product
  * ANN kernel, BM25 top-k) over a generated corpus — with, before every
  * [[AppendEvery]]-th read, a late-data append to the landed impressions
  * table and an incremental `Materializer.run` of a view over it (the
  * reference's cron).
  */
object Serve {
  /** Registry rows in the mix, by layer. */
  val OperatorRows: Seq[String] = Seq(
    "v_funnel_by_publisher", "dash1_requests_by_country", "qx10_win_rate_by_bidder")
  val FunctionRows: Seq[String] = Seq("dedup_minhash_lsh", "ann_brute_topk", "bm25_topk")
  val ServingReads: Seq[String] = Seq("serving_funnel_hourly", "serving_metrics_by_bidder")
  val operatorNames: Seq[String] = ServingReads ++ OperatorRows

  val LandedRequests = 3000
  val LandedHours = 4
  val AppendEvery = 4
  val LateImpressionsPerAppend = 40
  private val MatTable = "impressions_hourly_by_bidder"

  /** The cron's view: hourly impressions and cent-exact spend per bidder. */
  val view: MatView = MatView(MatTable, "hour", Seq("hour", "bidder_id"),
    df => df.dropDuplicates("impression_id")
      .groupBy(date_trunc("hour", col("event_ts")).as("hour"), col("bidder_id"))
      .agg(count(lit(1)).as("n_impressions"),
        sum(round(col("win_price") * 100).cast("long")).as("win_cents")),
    factBound = Some(FactBound("event_ts", "1 hour")))

  /** Point the registry rows' shared fixture into this run's directory.
    * Its location is a literal in the operator code (the oracle SQL names
    * the same text), and the benchmark reads and writes only inside its
    * own checkout. The field is a `static final` of the object's module
    * class, so plain reflection cannot set it; it is set before the first
    * use and the accessor is checked.
    */
  private def redirectFixture(dir: String): Unit = {
    val m = graft.operators.RtbOracleOps
    val f = m.getClass.getDeclaredField("root")
    val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    uf.setAccessible(true)
    val u = uf.get(null).asInstanceOf[sun.misc.Unsafe]
    u.putObject(u.staticFieldBase(f), u.staticFieldOffset(f), dir)
    val now = m.getClass.getMethod("root").invoke(m)
    require(now == dir, s"registry fixture still at $now")
  }

  private final case class Landed(cat: TableCatalog, funnel: RtbGenerator.Funnel,
      mzr: Materializer, imps: GraftTable)

  private def land(ctx: Ctx, dir: String, nReq: Int): Landed = {
    import ctx.spark.implicits._
    val spark = ctx.spark
    val funnel = RtbGenerator.generate(ctx.seed, nReq, StreamWorkloads.StartMs,
      LandedHours * 3600 * 1000L, StreamWorkloads.Rates)
    val matDef = TableDef(MatTable, view.compute(
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        Jobs.ingestionTableDefs(spark).find(_.name == Jobs.impressionsTable).get.schema)).schema)
    val cat = new TableCatalog(spark, s"$dir/wh", Jobs.ingestionTableDefs(spark) ++
      Seq(matDef, Materializer.watermarkTableDef))
    val withTs = (df: DataFrame) => df.withColumn("event_ts", RtbIngest.parseTs(col("event_timestamp")))
    val flat = RtbIngest.flattenRequests(spark.createDataset(funnel.requests).toDF()).localCheckpoint()
    ctx.trace.span("tables.land") {
      cat.table(Jobs.cleanTable).append(RtbIngest.cleanRequests(flat))
      cat.table(Jobs.rejectedTable).append(RtbIngest.rejectedRequests(flat))
      cat.table(Jobs.bidsTable).append(RtbIngest.flattenBids(spark.createDataset(funnel.responses).toDF()))
      cat.table(Jobs.impressionsTable).append(withTs(spark.createDataset(funnel.impressions).toDF()))
      cat.table(Jobs.clicksTable).append(withTs(spark.createDataset(funnel.clicks).toDF()))
    }
    val imps = cat.table(Jobs.impressionsTable)
    val mzr = new Materializer(spark, imps, view, cat.table(MatTable),
      cat.table(Materializer.watermarkTableDef.name))
    ctx.trace.span("materialize.full")(mzr.run())
    Landed(cat, funnel, mzr, imps)
  }

  /** Late impressions for won-less responses of the landed funnel, each
    * inside its response's win window, so every one joins the funnel.
    */
  private def lateImpressions(f: RtbGenerator.Funnel, seed: Long, n: Int): Seq[ImpressionEvent] = {
    val won = f.impressions.map(_.response_id).toSet
    val rnd = new scala.util.Random(seed ^ 0x5eed)
    val iso = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC)
    rnd.shuffle(f.responses.distinct.filterNot(r => won(r.id))).take(n).zipWithIndex.map { case (r, j) =>
      val respMs = java.time.LocalDateTime.parse(r.event_timestamp)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      val bid = r.seatbid.head.bid.head
      ImpressionEvent(s"impr-late-$j", r.ext.request_id, r.id, bid.impid, r.seatbid.head.seat,
        bid.price, r.cur, bid.crid, bid.adomain.head,
        iso.format(java.time.Instant.ofEpochMilli(respMs + 100 + rnd.nextInt(9900))))
    }
  }

  def run(ctx: Ctx): Outcome = {
    import ctx.spark.implicits._
    val spark = ctx.spark
    redirectFixture(ctx.dir("rtb-fixture"))
    val nReq = if (ctx.tiny) 500 else LandedRequests
    val (setupS, landed) = StreamWorkloads.repeatedSetup(3)(i => land(ctx, ctx.dir(s"serve-$i"), nReq))(_ => ())
    val Landed(cat, funnel, mzr, imps) = landed
    // the fixed-input fixtures of the registry rows, built once
    val corpusDir = ctx.dir("corpus")
    ctx.trace.span("gen.corpus")(Corpus.build(spark, corpusDir, ctx.cores))
    ctx.trace.span("gen.rtb_fixture")(graft.operators.RtbOracleOps.warm(spark))
    val registry = SparkEntry.registry.map(q => q.name -> q).toMap
    val ops = Seq(
      Op("serving_funnel_hourly", "operators", pinned = false, () => Jobs.servingFunnelHourly(cat)),
      Op("serving_metrics_by_bidder", "operators", pinned = false, () => Jobs.servingMetricsByBidder(cat))) ++
      OperatorRows.map(n => Op(n, "operators", pinned = true, () => registry(n).fn(spark, ctx.work))) ++
      FunctionRows.map(n => Op(n, "functions", pinned = true, () => registry(n).fn(spark, corpusDir)))
    val pinned = Pinned.load("serve")

    val nLate = if (ctx.tiny) 5 else LateImpressionsPerAppend
    val late = lateImpressions(funnel, ctx.seed, 200 * nLate).grouped(nLate).toIndexedSeq
    val rnd = new scala.util.Random(ctx.seed)
    // warm pass outside the window: every read's first execution compiles
    // its plan and costs a multiple of the steady state on this engine
    ops.foreach(op => Ops.run(ctx, op, -1L))

    val times = scala.collection.mutable.ArrayBuffer[OpTime]()
    val matRuns = scala.collection.mutable.ArrayBuffer[(Double, Int, Int)]()
    var appendS = 0.0
    var appended = 0
    val a = ctx.meter.snap()
    val t0Ns = System.nanoTime()
    val deadline = t0Ns + ctx.seconds * 1000000000L
    var opId = 0L
    // whole cycles only, so every run measures the same multiset of reads
    while (System.nanoTime() < deadline || opId == 0) {
      rnd.shuffle(ops).foreach { op =>
        // the cron's write lands before every AppendEvery-th read, so the
        // reads after it run against a just-appended, just-materialized table
        if (opId % AppendEvery == 0 && appended < late.size) {
          val s0 = System.nanoTime()
          ctx.trace.span("tables.append", opId)(imps.append(spark.createDataset(late(appended)).toDF()
            .withColumn("event_ts", RtbIngest.parseTs(col("event_timestamp")))))
          val s1 = System.nanoTime()
          ctx.trace.span("materialize.run", opId)(mzr.run())
          matRuns += (((System.nanoTime() - s1) / 1e9, mzr.lastRunJobs, mzr.lastRunViewComputes))
          appendS += (s1 - s0) / 1e9
          appended += 1
        }
        times += Ops.run(ctx, op, opId)
        opId += 1
      }
    }
    val t1Ns = System.nanoTime()
    val b = ctx.meter.snap()
    val coverage = ctx.trace.coverage(t0Ns, t1Ns)
    val wallS = (t1Ns - t0Ns) / 1e9

    // every pinned read against its checksum; then the served views and
    // the materialized view against the generator's truth plus the late
    // impressions, and against a full recompute
    ops.filter(_.pinned).foreach(op => times.find(_.name == op.name)
      .foreach(t => println(s"checksum: serve ${op.name} ${t.result.render}")))
    val badReads = times.filter(t => ops.exists(o => o.name == t.name && o.pinned) &&
      !pinned.get(t.name).exists(p => Checksum.parse(p).matches(t.result)))
    val nLateRows = appended * nLate
    val checks = ops.filter(_.pinned).map(op => s"checksum_${op.name}" -> !badReads.exists(_.name == op.name)) ++
      ctx.trace.span("check.serving") {
        val tot = Jobs.servingFunnelHourly(cat)
          .agg(sum("n_requests"), sum("n_responses"), sum("n_impressions"), sum("n_clicks")).head()
        val m = Jobs.servingMetricsByBidder(cat).agg(sum("n_impressions"), sum("n_clicks")).head()
        val t = funnel.truth
        Seq(
          "serving_funnel_vs_truth" -> (tot.getLong(0) == t.requests && tot.getLong(1) == t.responses &&
            tot.getLong(2) == t.impressions + nLateRows && tot.getLong(3) == t.clicks),
          "serving_metrics_vs_truth" -> (m.getLong(0) == t.impressions + nLateRows && m.getLong(1) == t.clicks),
          "matview_vs_recompute" -> Checksum.of(cat.table(MatTable).readLogical())
            .matches(Checksum.of(view.compute(imps.readLogical()))))
      }
    val endChecks = checks.drop(ops.count(_.pinned))
    val lat = times.map(_.totalS).toSeq
    val layers = Ops.layer("operators", times.toSeq, operatorNames) ++
      Ops.layer("functions", times.toSeq, FunctionRows) ++ ctx.meter.sparkLayer(a, b, ctx.cores) ++ Map(
      "tables.append_s" -> (appendS, "s"),
      "tables.cas_retries" -> ((b.casRetries - a.casRetries).toDouble, "count"),
      "tables.footer_probes" -> ((b.footerProbes - a.footerProbes).toDouble, "count"),
      "materialize.run_s" -> (matRuns.map(_._1).sum, "s"),
      "materialize.jobs" -> (matRuns.map(_._2).sum.toDouble, "count"),
      "materialize.view_computes" -> (matRuns.map(_._3).sum.toDouble, "count"),
      "trace.coverage" -> (coverage, "ratio"))
    Outcome(
      attempted = times.size + endChecks.size,
      failed = badReads.size + endChecks.count(!_._2),
      checks = checks,
      e2e = Map(
        "setup_s" -> (setupS, "s"),
        "latency_p50_s" -> (Stats.pct(lat, 0.5), "s"),
        "latency_p90_s" -> (Stats.pct(lat, 0.9), "s"),
        "throughput_per_s" -> (times.size / wallS, "1/s")),
      layers = layers,
      notes = Seq(
        f"${times.size} reads in ${opId / ops.size} cycles over ${wallS}%.2f s; read p50 ${Stats.pct(lat, 0.5)}%.3f s, p90 ${Stats.pct(lat, 0.9)}%.3f s (n=${lat.size})",
        f"$appended late appends of $nLate impressions; Materializer.run p50 ${if (matRuns.isEmpty) 0.0 else Stats.median(matRuns.map(_._1).toSeq)}%.3f s (n=${matRuns.size})") ++
        ops.map(o => f"read ${o.layer}.${o.name}%-36s p50 ${Stats.median(times.filter(_.name == o.name).map(_.totalS).toSeq)}%.3f s"))
  }
}
