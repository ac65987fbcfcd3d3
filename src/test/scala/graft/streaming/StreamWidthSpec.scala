package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.SparkTestSession
import graft.gen.RtbGenerator
import graft.model.OpenRtb._
import graft.rtb.RtbIngest
import graft.tables.TableCatalog
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The width rule for streaming plans ([[Sinks.perCore]]): a micro-batch
  * stage runs at most one task per core, however many chunks a
  * partition-per-append source delivers in one trigger — and the rule
  * changes no row, across a restart from the checkpoint included.
  */
class StreamWidthSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val Chunks = 50
  private val start = 1704103200000L // 2024-01-01 10:00:00 UTC
  private lazy val real = RtbGenerator.generate(seed = 557L, nRequests = 300,
    startMs = start, spanMs = 10 * 60 * 1000L, rates = RtbGenerator.Rates(
      win = 0.5, click = 0.3,
      dupRequest = 0.05, dupResponse = 0.05, dupImpression = 0.05, dupClick = 0.05))
  // far-future requests: each advances the watermark past every earlier
  // request's horizon, so the no-data batch after it emits their summaries
  private lazy val flushes = (0 until 2).map(k =>
    RtbGenerator.generate(900L + k, 3, start + (4 + k) * 3600 * 1000L, 1000L).requests)

  private def fresh(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_width", name)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    Files.createDirectories(p)
    p.toString
  }

  /** The four wire topics as `MemoryStream`s: one partition per `addData`. */
  private final class Topics(implicit sqlCtx: SQLContext) {
    import sqlCtx.implicits._
    val requests = MemoryStream[BidRequest]
    val responses = MemoryStream[BidResponse]
    val impressions = MemoryStream[ImpressionEvent]
    val clicks = MemoryStream[ClickEvent]

    private def split[T](s: MemoryStream[T], xs: Seq[T], chunks: Int): Unit =
      (0 until chunks).foreach(k =>
        s.addData(xs.slice(k * xs.size / chunks, (k + 1) * xs.size / chunks)))

    /** `real` in `chunks` appends per topic, then the first flush. */
    def feed(chunks: Int): Unit = {
      split(requests, real.requests, chunks)
      split(responses, real.responses, chunks)
      split(impressions, real.impressions, chunks)
      split(clicks, real.clicks, chunks)
      requests.addData(flushes(0))
    }

    def funnel(cat: TableCatalog, ckpt: String): Jobs.IngestionPipeline = Jobs.funnel(
      requests.toDF(), responses.toDF(), impressions.toDF(), clicks.toDF(), cat, ckpt)
  }

  /** Runs `body`, recording per streaming query id the task count of
    * the widest stage its triggers submitted.
    */
  private def widest(body: => Unit): Map[String, Int] = {
    val tasks = new ConcurrentHashMap[String, Integer]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .foreach(q => tasks.merge(q, e.stageInfo.numTasks, (a, b) => math.max(a, b)))
    }
    spark.sparkContext.addSparkListener(listener)
    try body finally {
      ListenerDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    tasks.asScala.map { case (q, n) => q -> n.intValue }.toMap
  }

  private def assertSameRows(a: DataFrame, b: DataFrame, hint: String): Unit = {
    val (onlyA, onlyB) = (a.exceptAll(b).count(), b.exceptAll(a).count())
    assert(onlyA == 0 && onlyB == 0, s"$hint: $onlyA rows only in left, $onlyB only in right")
  }

  private def hourly(summaries: DataFrame): DataFrame = summaries
    .groupBy(date_trunc("hour", col("r_ts")).as("hour"))
    .agg(count(lit(1)).as("n_requests"), sum("n_responses").as("n_responses"),
      sum("n_impressions").as("n_impressions"), sum("n_clicks").as("n_clicks"))

  private def batchFunnel(requests: Seq[BidRequest]): DataFrame = {
    import spark.implicits._
    RtbIngest.funnelHourly(requests.toDF(), real.responses.toDF(),
      real.impressions.toDF(), real.clicks.toDF())
      .select("hour", "n_requests", "n_responses", "n_impressions", "n_clicks")
  }

  test("Jobs.funnel: one task per core at the source; same summaries as one chunk, batch and restart") {
    implicit val sqlCtx = spark.sqlContext
    val cores = spark.sparkContext.defaultParallelism
    val cat = new TableCatalog(spark, fresh("funnel_wh"), Jobs.funnelTableDefs(spark))
    val ckpt = fresh("funnel_ck")
    val topics = new Topics
    topics.feed(Chunks)
    var summaryId = ""
    val wide = widest {
      val pipe = topics.funnel(cat, ckpt)
      summaryId = pipe.queries.head.id.toString
      try pipe.processAllAvailable() finally pipe.stop()
    }
    assert(wide.contains(summaryId), s"no stage attributed to the summary query: $wide")
    assert(wide(summaryId) <= cores,
      s"the summary query's widest stage ran ${wide(summaryId)} tasks on $cores cores")

    val summary = cat.table(Jobs.funnelSummaryTable)
    val chunked = summary.readLogical().localCheckpoint()
    assert(chunked.count() == real.requests.map(_.id).distinct.size)
    assertSameRows(hourly(chunked), batchFunnel(real.requests), "50 chunks vs batch funnel")

    val oneCat = new TableCatalog(spark, fresh("funnel1_wh"), Jobs.funnelTableDefs(spark))
    val one = new Topics
    one.feed(1)
    val onePipe = one.funnel(oneCat, fresh("funnel1_ck"))
    try onePipe.processAllAvailable() finally onePipe.stop()
    assertSameRows(chunked, oneCat.table(Jobs.funnelSummaryTable).readLogical(),
      "50 chunks vs 1 chunk")

    // restart from the same checkpoint: nothing replays, and the state
    // still holds the first flush, which the second one finalizes
    val again = topics.funnel(cat, ckpt)
    try {
      again.processAllAvailable()
      assertSameRows(summary.readLogical(), chunked, "after restart")
      topics.requests.addData(flushes(1))
      again.processAllAvailable()
    } finally again.stop()
    assertSameRows(hourly(summary.readLogical()), batchFunnel(real.requests ++ flushes(0)),
      "after restart and a second flush vs batch funnel")
  }

  test("Jobs.ingestion: every query runs one task per core") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cores = spark.sparkContext.defaultParallelism
    val cat = new TableCatalog(spark, fresh("ingest_wh"), Jobs.ingestionTableDefs(spark))
    val topics = new Topics
    topics.feed(Chunks)
    var ids = Seq.empty[String]
    val wide = widest {
      val pipe = Jobs.ingestion(topics.requests.toDF(), topics.responses.toDF(),
        topics.impressions.toDF(), topics.clicks.toDF(), cat, fresh("ingest_ck"))
      ids = pipe.queries.map(_.id.toString)
      try pipe.processAllAvailable() finally pipe.stop()
    }
    for (id <- ids) {
      assert(wide.contains(id), s"no stage attributed to query $id: $wide")
      assert(wide(id) <= cores, s"query $id's widest stage ran ${wide(id)} tasks on $cores cores")
    }
    assert(cat.table(Jobs.clicksTable).readLogical().count() == real.clicks.size)
    assertSameRows(cat.table(Jobs.cleanTable).readLogical(),
      RtbIngest.cleanRequests(RtbIngest.flattenRequests(
        (real.requests ++ flushes(0)).toDF())), "clean_requests")
  }
}
