package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import graft.SparkTestSession
import graft.gen.RtbGenerator
import graft.model.OpenRtb._
import graft.tables.{GraftTable, TableCatalog}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.streaming.operators.stateful.flatmapgroupswithstate.FlatMapGroupsWithStateExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.apache.spark.util.LongAccumulator
import org.scalatest.funsuite.AnyFunSuite

/** The one micro-batch protocol ([[Sinks.start]]): a trigger runs the
  * stream plan once, because the emptiness probe and every write read
  * the one persisted batch, and the batch leaves the cache even when
  * the body throws.
  */
class SinksSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def fresh(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_sinks", name)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    Files.createDirectories(p)
    p.toString
  }

  /** A pass-through predicate that counts every row the plan evaluates. */
  private def counting(name: String): (Column => Column, LongAccumulator) = {
    val seen = spark.sparkContext.longAccumulator(name)
    val f = udf { (_: String) => seen.add(1L); true }
    (c => f(c.cast("string")), seen)
  }

  private def docs(from: Int, n: Int): Seq[NDoc] = (from until from + n).map(i =>
    NDoc(i.toLong, s"doc $i shares the words alpha beta gamma delta and ${i % 7}"))

  test("one plan execution per trigger: NearDupIngest.bandAppend") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (seen, rows) = counting("bandAppend.rows")
    val table = new GraftTable(spark, NearDupIngest.bandTableDef, fresh("bands_wh"))
    val src = MemoryStream[NDoc]
    val q = NearDupIngest.bandAppend(src.toDF().filter(seen(col("doc_id"))), table,
      fresh("bands_ck"))
    try {
      src.addData(docs(0, 40)); q.processAllAvailable()
      src.addData(docs(40, 30)); q.processAllAvailable()
    } finally q.stop()
    assert(table.readLogical().select("doc_id").distinct().count() == 70)
    assert(rows.value == 70L, s"the stream plan ran over ${rows.value} rows for 70 inputs")
  }

  test("one plan execution per trigger: PostingsIngest.indexAppend") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (seen, rows) = counting("indexAppend.rows")
    val wh = fresh("postings_wh")
    val postings = new GraftTable(spark, PostingsIngest.postingsDef, wh)
    val docStats = new GraftTable(spark, PostingsIngest.docStatsDef, wh)
    val src = MemoryStream[NDoc]
    val q = PostingsIngest.indexAppend(src.toDF().filter(seen(col("doc_id"))),
      postings, docStats, fresh("postings_ck"))
    try {
      src.addData(docs(0, 40)); q.processAllAvailable()
      src.addData(docs(40, 30)); q.processAllAvailable()
    } finally q.stop()
    assert(docStats.readLogical().count() == 70)
    assert(rows.value == 70L, s"the stream plan ran over ${rows.value} rows for 70 inputs")
  }

  test("one plan execution per trigger: the Jobs.funnel summary query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val start = 1704103200000L // 2024-01-01 10:00:00 UTC
    val (seen, rows) = counting("funnel.requests")
    val cat = new TableCatalog(spark, fresh("funnel_wh"), Jobs.funnelTableDefs(spark))
    val rS = MemoryStream[BidRequest]
    val bS = MemoryStream[BidResponse]
    val iS = MemoryStream[ImpressionEvent]
    val cS = MemoryStream[ClickEvent]
    val real = RtbGenerator.generate(seed = 556L, nRequests = 120, startMs = start,
      spanMs = 10 * 60 * 1000L, rates = RtbGenerator.Rates())
    // far-future flush requests: each advances the watermark, and with
    // no-data batches off the timed-out summaries are emitted by the
    // batch that carries the next flush, so a trigger reads AND writes
    val flushes = (0 until 2).map(k =>
      RtbGenerator.generate(900L + k, 3, start + (4 + k) * 3600 * 1000L, 1000L).requests)
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prior = spark.conf.get(noData)
    spark.conf.set(noData, "false")
    try {
      val pipe = Jobs.funnel(rS.toDF().filter(seen(col("id"))), bS.toDF(), iS.toDF(),
        cS.toDF(), cat, fresh("funnel_ck"))
      try {
        rS.addData(real.requests)
        bS.addData(real.responses)
        iS.addData(real.impressions)
        cS.addData(real.clicks)
        pipe.processAllAvailable()
        for (f <- flushes) { rS.addData(f); pipe.processAllAvailable() }
        // the counting filter sits before the funnel's shuffle, whose map
        // output Spark reuses across the actions on one foreachBatch
        // frame; what a second action re-runs is the stateful operator
        // after it, so its own output-row metric for the last trigger
        // must equal the rows that trigger wrote
        val last = pipe.queries.head.asInstanceOf[StreamingQueryWrapper]
          .streamingQuery.lastExecution
        val emitted = last.executedPlan.collect {
          case p: FlatMapGroupsWithStateExec => p.metrics("numOutputRows").value
        }.sum
        val summary = cat.table(Jobs.funnelSummaryTable)
        assert(summary.lastCommittedBatch("funnel") == last.currentBatchId)
        val written = summary.readLogical().count() -
          summary.readLogical(Some(summary.currentVersion - 1)).count()
        assert(written > 0, "the last trigger wrote no summary")
        assert(emitted == written,
          s"the funnel operator emitted $emitted rows for $written written")
      } finally pipe.stop()
    } finally spark.conf.set(noData, prior)
    val n = real.requests.size + flushes.map(_.size).sum
    assert(rows.value == n.toLong, s"the stream plan ran over ${rows.value} rows for $n inputs")
  }

  test("a body that throws leaves no cached batch behind") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.sharedState.cacheManager.clearCache()
    val src = MemoryStream[NDoc]
    val q = Sinks.start(src.toDF(), fresh("throws_ck")) { (_: DataFrame, _: Long) =>
      throw new IllegalStateException("sink body failed")
    }
    try {
      src.addData(docs(0, 5))
      val e = intercept[StreamingQueryException](q.processAllAvailable())
      assert(e.getMessage.contains("sink body failed"))
    } finally q.stop()
    assert(spark.sharedState.cacheManager.isEmpty,
      "the failed batch is still in the cache manager")
  }
}
