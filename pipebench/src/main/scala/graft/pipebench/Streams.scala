package graft.pipebench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag

import graft.gen.RtbGenerator
import graft.model.OpenRtb._
import graft.rtb.RtbIngest
import graft.sources.{AvroWire, FrameSource, WireRegistry}
import graft.streaming.Jobs
import graft.tables.TableCatalog
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Generated RTB events cut into chunks: chunk `c` holds the requests
  * `chunkOf` maps to it and their whole funnel (responses, impressions,
  * clicks, injected duplicates), encoded as Confluent-framed Avro —
  * `frames(stream)(chunk)`, streams in [[Jobs.wireTopics]] order.
  */
final class Feed(val funnel: RtbGenerator.Funnel, val registry: WireRegistry,
    val frames: Array[Array[Array[Array[Byte]]]]) {
  def events(c: Int): Long = frames.map(_(c).length.toLong).sum
}

object Feed {
  def build(spark: SparkSession, funnel: RtbGenerator.Funnel, nChunks: Int,
      chunkOf: String => Int): Feed = {
    import spark.implicits._
    val registry = new WireRegistry
    def encode[T <: Product : TypeTag](xs: Seq[T], requestId: T => String, subject: String)(
        implicit enc: Encoder[(Int, T)], te: Encoder[T]): Array[Array[Array[Byte]]] = {
      val schema = AvroWire.schemaFor(spark.emptyDataset[T].toDF())
      val sid = registry.register(subject, schema)
      val rows = spark.createDataset(xs.map(e => (chunkOf(requestId(e)), e))).toDF("c", "e")
        .select(col("c"), AvroWire.toWire(col("e"), schema, sid).as("v"))
        .as[(Int, Array[Byte])].collect()
      val by = rows.groupBy(_._1)
      Array.tabulate(nChunks)(c => by.get(c).map(_.map(_._2)).getOrElse(Array.empty))
    }
    val subj = Jobs.wireSubjects
    val frames = Array(
      encode[BidRequest](funnel.requests, _.id, subj(0)),
      encode[BidResponse](funnel.responses, _.ext.request_id, subj(1)),
      encode[ImpressionEvent](funnel.impressions, _.request_id, subj(2)),
      encode[ClickEvent](funnel.clicks, _.request_id, subj(3)))
    new Feed(funnel, registry, frames)
  }

  /** `a` then `b` as one stream. The generator numbers responses,
    * impressions and clicks from 0 in every call, so `b`'s get a prefix;
    * request ids already differ by seed. The truth is the sum of both.
    */
  def concat(a: RtbGenerator.Funnel, b: RtbGenerator.Funnel): RtbGenerator.Funnel = {
    val p = "b"
    val (x, y) = (a.truth, b.truth)
    RtbGenerator.Funnel(
      a.requests ++ b.requests,
      a.responses ++ b.responses.map(r => r.copy(id = p + r.id, bidid = p + r.bidid)),
      a.impressions ++ b.impressions.map(i => i.copy(impression_id = p + i.impression_id,
        response_id = p + i.response_id)),
      a.clicks ++ b.clicks.map(c => c.copy(click_id = p + c.click_id, impression_id = p + c.impression_id)),
      RtbGenerator.Truth(x.requests + y.requests, x.responses + y.responses,
        x.impressions + y.impressions, x.clicks + y.clicks, x.dupRequests + y.dupRequests,
        x.dupResponses + y.dupResponses, x.dupImpressions + y.dupImpressions,
        x.dupClicks + y.dupClicks, x.testPublisherRequests + y.testPublisherRequests,
        x.privateIpRequests + y.privateIpRequests, x.appRequests + y.appRequests,
        x.nonUsdRequests + y.nonUsdRequests, x.zeroBidfloorRequests + y.zeroBidfloorRequests,
        x.totalBids + y.totalBids))
  }
}

/** The deployment's three streaming jobs over four in-memory wire
  * topics: `Jobs.wireIngestion` (4 queries), `Jobs.aggregationGeo`
  * (pairs join + geo upsert) and `Jobs.funnel` (stateful funnel +
  * rollup), all started through the public API with its default
  * processing-time trigger.
  */
final class Pipeline(ctx: Ctx, feed: Feed, dir: String) {
  private val spark = ctx.spark
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  import spark.implicits._

  // a MemoryStream serves one query, so each job reading the topics
  // gets its own copy of them (one Kafka consumer group per job)
  private val topics: Seq[MemoryStream[Array[Byte]]] = Seq.fill(4)(MemoryStream[Array[Byte]])
  private val funnelTopics: Seq[MemoryStream[Array[Byte]]] = Seq.fill(4)(MemoryStream[Array[Byte]])
  private val source = new FrameSource {
    override def frames(s: SparkSession, topic: String): DataFrame =
      topics(Jobs.wireTopics.indexOf(topic)).toDF()
  }
  val cat = new TableCatalog(spark, s"$dir/wh", Jobs.ingestionTableDefs(spark) ++
    Jobs.aggregationTableDefs(spark) ++ Jobs.funnelTableDefs(spark))
  private val ckpt = s"$dir/ckpt"

  private def decoded(k: Int): DataFrame = {
    val (_, reader) = feed.registry.latest(Jobs.wireSubjects(k))
    funnelTopics(k).toDF().select(AvroWire.fromWire(col("value"), reader, feed.registry.writers).as("r"))
      .select("r.*")
  }

  val ingest: Jobs.IngestionPipeline = Jobs.wireIngestion(spark, source, feed.registry, cat, ckpt)
  val agg: Jobs.IngestionPipeline = Jobs.aggregationGeo(cat, ckpt)
  val funnel: Jobs.IngestionPipeline =
    Jobs.funnel(decoded(0), decoded(1), decoded(2), decoded(3), cat, ckpt)

  /** Role → query, in the order a drain must visit them. */
  val queries: Seq[(String, StreamingQuery)] =
    Seq("requests", "responses", "impressions", "clicks").zip(ingest.queries) ++
      Seq("pairs", "geo").zip(agg.queries) ++
      Seq("funnel_summary", "funnel_rollup").zip(funnel.queries)

  private var sent = 0

  /** Offer chunk `c` (must be the next one) to all four topics at once:
    * one offset per chunk on every topic, even when a topic's share is
    * empty, so MemoryStream offset `c` is chunk `c` everywhere.
    */
  def send(c: Int): Unit = {
    require(c == sent, s"chunks go in order: expected $sent, got $c")
    Seq(topics, funnelTopics).foreach(_.zipWithIndex.foreach { case (t, k) =>
      t.addData(feed.frames(k)(c).toSeq)
    })
    sent += 1
  }

  def drain(): Unit = queries.foreach(_._2.processAllAvailable())

  def stop(): Unit = queries.foreach(_._2.stop())

  def progress: Map[String, Seq[StreamingQueryProgress]] =
    queries.map { case (n, q) => n -> q.recentProgress.toSeq }.toMap
}

/** When each chunk became committed, reconstructed after the run from
  * query progress and commit metadata (never by scanning data): a
  * chunk's events are in the five ingestion tables once each ingestion
  * query's progress passed its offset, and its impressions' joined rows
  * are in `impression_request_pairs` once the pairs query's progress
  * passed the file-log entries holding the chunk's clean-request and
  * impression files.
  */
object Completion {
  private def endMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L)

  private def memOffset(s: String): Long =
    if (s == null || s.isEmpty) -1L else s.trim.toLong

  /** Ingestion completion (ms) per chunk for one query; None = never. */
  private def ingestDone(ps: Seq[StreamingQueryProgress], n: Int): Array[Option[Long]] = {
    val done = ps.filter(_.sources.nonEmpty).map(p => (memOffset(p.sources.head.endOffset), endMs(p)))
      .sortBy(_._2)
    Array.tabulate(n)(c => done.find(_._1 >= c).map(_._2))
  }

  /** chunk → ingestion batch id of one ingestion query. */
  private def batchOf(ps: Seq[StreamingQueryProgress], n: Int): Array[Option[Long]] = {
    val bs = ps.filter(_.sources.nonEmpty).map(p =>
      (memOffset(p.sources.head.startOffset), memOffset(p.sources.head.endOffset), p.batchId))
    Array.tabulate(n)(c => bs.find { case (s, e, _) => s < c && c <= e }.map(_._3))
  }

  private def fileName(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** Data files each ingest batch added to `table`. */
  private def filesByBatch(cat: TableCatalog, table: String): Map[Long, Seq[String]] = {
    val cs = cat.table(table).commits
    cs.zip(None +: cs.map(Some(_))).flatMap { case (c, prev) =>
      c.sinkBatchesOrEmpty.get("ingest").filter(b => !prev.exists(_.sinkBatchesOrEmpty.get("ingest").contains(b)))
        .map(b => b -> (c.files.toSet -- prev.map(_.files).getOrElse(Nil)).toSeq.map(fileName))
    }.toMap
  }

  /** The ingestion table a tailed path belongs to. */
  private def tableOf(path: String): Option[String] =
    Seq(Jobs.cleanTable, Jobs.impressionsTable).find(t => path.contains(s"/$t/"))

  /** file name → (tailed table, log offset) from a file-stream query's
    * source logs (`<ckpt>/sources/<k>/<n>[.compact]`).
    */
  private def sourceLog(ckptDir: String): Map[String, (String, Long)] = {
    val root = Paths.get(ckptDir, "sources")
    if (!Files.exists(root)) Map.empty
    else Files.list(root).iterator().asScala.toSeq.flatMap { sd =>
      Files.list(sd).iterator().asScala.toSeq.filterNot(_.getFileName.toString.startsWith("."))
        .flatMap(f => Files.readAllLines(f).asScala.drop(1)).flatMap { line =>
          val path = "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(line).map(_.group(1))
          val bid = "\"batchId\":(\\d+)".r.findFirstMatchIn(line).map(_.group(1).toLong)
          for (p <- path; t <- tableOf(p); b <- bid) yield fileName(p) -> (t, b)
        }
    }.toMap
  }

  /** Per chunk: the time (ms) it was fully committed, None if never. */
  def chunkDone(pipe: Pipeline, n: Int, ckptRoot: String): Array[Option[Long]] = {
    val prog = pipe.progress
    val ingestRoles = Seq("requests", "responses", "impressions", "clicks")
    val ingest = ingestRoles.map(r => ingestDone(prog(r), n))
    val reqBatch = batchOf(prog("requests"), n)
    val impBatch = batchOf(prog("impressions"), n)
    val cleanFiles = filesByBatch(pipe.cat, Jobs.cleanTable)
    val impFiles = filesByBatch(pipe.cat, Jobs.impressionsTable)
    val log = sourceLog(s"$ckptRoot/pairs")
    // per pairs batch: (end ms, tailed table → log offset reached)
    val pairs = prog("pairs").map { p =>
      endMs(p) -> p.sources.flatMap { s =>
        for {
          t <- tableOf(s.description)
          o <- Option(s.endOffset).flatMap(o => "\"logOffset\":(\\d+)".r.findFirstMatchIn(o))
        } yield t -> o.group(1).toLong
      }.toMap
    }.sortBy(_._1)
    Array.tabulate(n) { c =>
      val ing = ingest.map(_(c))
      if (ing.exists(_.isEmpty)) None
      else {
        val files = reqBatch(c).toSeq.flatMap(b => cleanFiles.getOrElse(b, Nil)) ++
          impBatch(c).toSeq.flatMap(b => impFiles.getOrElse(b, Nil))
        val need = files.flatMap(log.get)
        val pairsAt =
          if (impBatch(c).forall(b => impFiles.getOrElse(b, Nil).isEmpty)) Some(0L)
          else pairs.find { case (_, reached) =>
            need.nonEmpty && need.forall { case (t, o) => reached.getOrElse(t, -1L) >= o }
          }.map(_._1)
        pairsAt.map(p => math.max(p, ing.flatten.max))
      }
    }
  }
}

/** Per-layer streaming metrics from query progress inside a window. */
object StreamLayer {
  def metrics(pipe: Pipeline, t0Ms: Long, t1Ms: Long, jobs: Long): Map[String, (Double, String)] = {
    val ps = pipe.progress.values.flatten.toSeq.filter { p =>
      val ts = java.time.Instant.parse(p.timestamp).toEpochMilli
      ts >= t0Ms && ts < t1Ms && p.durationMs.containsKey("addBatch")
    }
    def sumS(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
    val trig = ps.map(p => p.durationMs.get("triggerExecution").longValue / 1e3)
    val last = pipe.progress.values.flatMap(_.lastOption).toSeq
    Map(
      "streaming.triggers" -> (ps.size.toDouble, "count"),
      "streaming.planning_s" -> (sumS("queryPlanning"), "s"),
      "streaming.wal_commit_s" -> (sumS("walCommit"), "s"),
      "streaming.commit_offsets_s" -> (sumS("commitOffsets"), "s"),
      "streaming.latest_offset_s" -> (sumS("latestOffset"), "s"),
      "streaming.add_batch_s" -> (sumS("addBatch"), "s"),
      "streaming.trigger_p50_s" -> (if (trig.isEmpty) 0.0 else Stats.pct(trig, 0.5), "s"),
      "streaming.trigger_p90_s" -> (if (trig.isEmpty) 0.0 else Stats.pct(trig, 0.9), "s"),
      "streaming.state_rows" -> (last.flatMap(_.stateOperators).map(_.numRowsTotal).sum.toDouble, "count"),
      "streaming.state_bytes" -> (last.flatMap(_.stateOperators).map(_.memoryUsedBytes).sum.toDouble, "B"),
      "streaming.state_commit_s" -> (ps.flatMap(_.stateOperators).map(_.commitTimeMs).sum / 1e3, "s"),
      "spark.jobs_per_trigger" -> (if (ps.isEmpty) 0.0 else jobs.toDouble / ps.size, "ratio"))
  }
}

/** PipelineSpec's invariant on the landed pipeline: every ingested table
  * == the batch recompute over the raw events fed, the serving funnel
  * == the batch funnel == the generator's truth, and the aggregation
  * job's pairs and geo tables == their batch twins.
  */
object PipelineCheck {
  def run(spark: SparkSession, cat: TableCatalog, f: RtbGenerator.Funnel): Seq[(String, Boolean)] = {
    import spark.implicits._
    val rawReq = spark.createDataset(f.requests).toDF()
    val rawResp = spark.createDataset(f.responses).toDF()
    val rawImp = spark.createDataset(f.impressions).toDF()
    val rawClk = spark.createDataset(f.clicks).toDF()
    val flat = RtbIngest.flattenRequests(rawReq)
    def same(name: String, got: DataFrame, want: DataFrame): (String, Boolean) =
      name -> Checksum.of(got).matches(Checksum.of(want))
    val withTs = (df: DataFrame) => df.withColumn("event_ts", RtbIngest.parseTs(col("event_timestamp")))
    val t = (n: String) => cat.table(n).readLogical()

    val served = Jobs.servingFunnelHourly(cat)
    val truth = f.truth

    val r = RtbIngest.cleanRequests(flat)
      .select(col("request_id"), col("device_geo_country").as("country"), col("event_ts"))
      .dropDuplicates("request_id").alias("r")
    val i = withTs(rawImp).dropDuplicates("impression_id").alias("i")
    val pairs = i.join(r, expr("""i.request_id = r.request_id AND
        |r.event_ts BETWEEN i.event_ts - INTERVAL 15 SECONDS AND i.event_ts""".stripMargin))
      .select(col("i.impression_id"), col("i.request_id"), col("r.country"),
        col("i.win_price"), col("i.event_ts"))
    val geo = pairs
      .groupBy(date_trunc("hour", col("event_ts")).as("hour"), col("country"))
      .agg(count(lit(1)).as("n_impressions"),
        sum(round(col("win_price") * 100).cast("long")).as("total_win_cents"))

    // independent small jobs: run them side by side
    Checks.parallel(Seq(
      () => same(Jobs.cleanTable, t(Jobs.cleanTable), RtbIngest.cleanRequests(flat)),
      () => same(Jobs.rejectedTable, t(Jobs.rejectedTable), RtbIngest.rejectedRequests(flat)),
      () => same(Jobs.bidsTable, t(Jobs.bidsTable), RtbIngest.flattenBids(rawResp)),
      () => same(Jobs.impressionsTable, t(Jobs.impressionsTable), withTs(rawImp)),
      () => same(Jobs.clicksTable, t(Jobs.clicksTable), withTs(rawClk)),
      () => same("serving_funnel_vs_batch", served, RtbIngest.funnelHourly(rawReq, rawResp, rawImp, rawClk)),
      () => {
        val tot = served.agg(sum("n_requests"), sum("n_responses"), sum("n_impressions"), sum("n_clicks")).head()
        "serving_funnel_vs_truth" -> (tot.getLong(0) == truth.requests && tot.getLong(1) == truth.responses &&
          tot.getLong(2) == truth.impressions && tot.getLong(3) == truth.clicks)
      },
      () => {
        val m = Jobs.servingMetricsByBidder(cat).agg(sum("n_impressions"), sum("n_clicks")).head()
        "serving_metrics_vs_truth" -> (m.getLong(0) == truth.impressions && m.getLong(1) == truth.clicks)
      },
      () => same(Jobs.pairsTable, t(Jobs.pairsTable), pairs),
      () => same(Jobs.geoTable, t(Jobs.geoTable), geo)))
  }
}

object Checks {
  /** Run independent checks concurrently (each is a few small Spark jobs). */
  def parallel(checks: Seq[() => (String, Boolean)]): Seq[(String, Boolean)] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(checks.map(c => Future(c()))), scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
  }
}
