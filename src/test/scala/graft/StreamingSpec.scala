package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.util.Comparator

import graft.streaming.{EventStreams, Sinks}
import graft.tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)
case class DocRow(doc_id: Long, text: String)

/** Streaming semantics vs the oracle-checked batch twins: identical rows
  * fed through the Structured Streaming forms must produce the batch
  * answers; the watermark must drop a too-late event; the upsert sink
  * must revise keyed rows across micro-batches; the multi-sink fan-out
  * must feed all sinks consistently from one pass.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def ckpt(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_ckpt", name)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    p.toString
  }

  private def wh(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_stream_wh", name)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    Files.createDirectories(p)
    p.toString
  }

  private val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private def at(minutes: Long) = new Timestamp(t0.getTime + minutes * 60000L)

  /** Deterministic little event log: 3 hours of views/clicks/purchases. */
  private def mkEvents(): Seq[Ev] = {
    val evs = for {
      u <- 1L to 5L
      k <- 0L until 12L
    } yield {
      val base = u * 7 + k * 13
      val typ = (base % 3) match {
        case 0 => "view"
        case 1 => "click"
        case _ => "purchase"
      }
      Ev(u * 1000 + k, at(base % 170), u, typ, (base % 17).toDouble / 2.0)
    }
    evs
  }

  private def assertSameRows(a: DataFrame, b: DataFrame, hint: String): Unit = {
    val extraA = a.exceptAll(b).count()
    val extraB = b.exceptAll(a).count()
    assert(extraA == 0 && extraB == 0,
      s"$hint: ${extraA} rows only in streaming, ${extraB} only in batch")
  }

  test("streaming histogram-sketch partials merge to the one-pass batch quantiles") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val binSchema = StructType(Seq(
      StructField("event_type", StringType),
      StructField("bin", LongType),
      StructField("cnt", LongType)))
    val table = new GraftTable(spark, TableDef("qsketch", binSchema), wh("qsketch"))
    // amplify values so the histogram spans many bins — single-bin data
    // would make the merge trivially correct
    val evs = mkEvents().map(e => e.copy(value = e.value * 1000.0 + e.user_id))
    val src = MemoryStream[Ev]
    val q = Sinks.quantileSketchAppend(src.toDF(), table, ckpt("qsketch"))
    val (first, second) = evs.splitAt(evs.size / 2)
    src.addData(first); q.processAllAvailable()
    src.addData(second); q.processAllAvailable()
    q.stop()
    // two commits of PARTIAL histograms — the merge is real, not a no-op
    assert(table.commits.count(_.op == "append") == 2)
    assert(table.readLogical().select("bin").distinct().count() > 10)
    val streamed = Sinks.quantilesFromSketchTable(table)
    val batch = graft.functions.SketchOps.quantileFromBins(
      graft.functions.SketchOps.quantileBins(evs.toDF(), "value", "event_type"),
      "event_type")
    assertSameRows(streamed, batch, "merged sketch quantiles")
  }

  test("streaming CM partials merge to the batch sketch's exact estimates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cellSchema = StructType(Seq(
      StructField("i", IntegerType),
      StructField("cell", LongType),
      StructField("cnt", LongType)))
    val table = new GraftTable(spark, TableDef("cmsketch", cellSchema), wh("cmsketch"))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => DocRow(r.getLong(0), r.getString(1))).toSeq
    val src = MemoryStream[DocRow]
    val q = Sinks.cmSketchAppend(src.toDF(), table, ckpt("cmsketch"))
    val (first, second) = docs.splitAt(docs.size / 2)
    src.addData(first); q.processAllAvailable()
    src.addData(second); q.processAllAvailable()
    q.stop()
    // two commits of PARTIAL grids — the read-time sum is a real merge
    assert(table.commits.count(_.op == "append") == 2)

    // the streamed estimate must equal the one-pass batch sketch's n_cm
    // for the batch query's own top-20 probe set
    val batch = graft.functions.SketchOps.cmHeavyHitters
      .run(spark, "/root/testdata/sf0.001").collect()
    val streamed = Sinks.cmEstimate(table, batch.map(_.getAs[String]("term")).toSeq)
      .collect().map(r => r.getAs[String]("term") -> r.getAs[Long]("n_cm")).toMap
    batch.foreach { r =>
      val term = r.getAs[String]("term")
      assert(streamed(term) == r.getAs[Long]("n_cm"),
        s"$term: streamed ${streamed(term)} vs batch ${r.getAs[Long]("n_cm")}")
      // one-sided guarantee survives the streamed merge
      assert(streamed(term) >= r.getAs[Long]("n_exact"))
    }

    // whole-batch replay is dropped by the sink marker
    val before = table.readLogical().agg(sum("cnt")).head.getLong(0)
    val src2 = MemoryStream[DocRow]
    val q2 = Sinks.cmSketchAppend(src2.toDF(), table, ckpt("cmsketch2"))
    src2.addData(first); q2.processAllAvailable()
    q2.stop()
    assert(table.readLogical().agg(sum("cnt")).head.getLong(0) == before)
  }

  test("streaming hourly upsert equals batch tumbling agg; late event dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = mkEvents().sortBy(_.ts.getTime)
    val (first, second) = events.splitAt(events.size / 2)
    val lateEvent = Ev(99999L, Timestamp.valueOf("2023-12-25 00:00:00"), 9L, "view", 1.0)

    val schema = StructType(Seq(
      StructField("window_start", TimestampType),
      StructField("event_type", StringType),
      StructField("n", LongType),
      StructField("total_value", DoubleType),
      StructField("avg_value", DoubleType)))
    val table = new GraftTable(spark,
      TableDef("hourly_metrics", schema, keys = Seq("window_start", "event_type")),
      wh("hourly"))
    // same stream into a merge-on-read twin — the 100 TB upsert-sink
    // path, where each micro-batch commits O(batch) instead of
    // rewriting the table
    val morTable = new GraftTable(spark,
      TableDef("hourly_metrics_mor", schema, keys = Seq("window_start", "event_type"),
        mergeOnRead = true),
      wh("hourly_mor"))

    val src = MemoryStream[Ev]
    val q = Sinks.hourlyUpsert(src.toDF(), table, ckpt("hourly"))
    val qMor = Sinks.hourlyUpsert(src.toDF(), morTable, ckpt("hourly_mor"))
    src.addData(first)
    q.processAllAvailable(); qMor.processAllAvailable()
    // second half + one event 7 days late: watermark (max ts − 30 s) has
    // long passed its window → the streaming side must DROP it
    src.addData(second :+ lateEvent)
    q.processAllAvailable(); qMor.processAllAvailable()
    q.stop(); qMor.stop()

    val batchTwin = spark.createDataset(events).toDF()
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("total_value"))
      .withColumn("avg_value",
        expr("CAST((CAST(round(total_value * 100) AS BIGINT) * 200 + n) DIV (2 * n) AS DOUBLE) / 10000"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"), col("total_value"), col("avg_value"))
    assertSameRows(table.readLogical(), batchTwin, "hourly upsert")
    assertSameRows(morTable.readLogical(), batchTwin, "hourly upsert (merge-on-read)")
  }

  test("streaming sliding upsert equals the batch W1 sliding window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = mkEvents().sortBy(_.ts.getTime)
    val (first, second) = events.splitAt(events.size / 2)

    val schema = StructType(Seq(
      StructField("window_start", TimestampType),
      StructField("window_end", TimestampType),
      StructField("event_type", StringType),
      StructField("n", LongType),
      StructField("total_value", DoubleType)))
    // merge-on-read: the hop means 4× the revised rows per micro-batch
    // vs tumbling, so O(batch) commits matter even more here
    val table = new GraftTable(spark,
      TableDef("rolling_metrics", schema,
        keys = Seq("window_start", "event_type"), mergeOnRead = true),
      wh("rolling"))

    val src = MemoryStream[Ev]
    val q = Sinks.slidingUpsert(src.toDF(), table, ckpt("rolling"))
    src.addData(first)
    q.processAllAvailable()
    src.addData(second)
    q.processAllAvailable()
    q.stop()

    val batchTwin = spark.createDataset(events).toDF()
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("total_value"))
    assertSameRows(table.readLogical(), batchTwin, "sliding upsert")
  }

  test("dropDuplicatesWithinWatermark removes in- and cross-batch duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = mkEvents().sortBy(_.ts.getTime)
    val tail = events.takeRight(5) // ts within watermark horizon at stream end
    val src = MemoryStream[Ev]
    val out = EventStreams.dedup(src.toDF())
      .writeStream.format("memory").queryName("dedup_out").outputMode("append")
      .option("checkpointLocation", ckpt("dedup")).start()
    src.addData(events ++ events.take(10)) // in-batch duplicates
    out.processAllAvailable()
    src.addData(tail)                      // cross-batch duplicates of recent rows
    out.processAllAvailable()
    out.stop()
    val got = spark.table("dedup_out")
    assert(got.count() == events.size.toLong)
    assert(got.select("event_id").distinct().count() == events.size.toLong)
  }

  test("stream-stream interval join pairs equal the batch join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = mkEvents()
    val views = events.filter(_.event_type == "view")
    val clicks = events.filter(_.event_type == "click")
    val vs = MemoryStream[Ev]
    val cs = MemoryStream[Ev]
    val out = EventStreams.intervalJoinPairs(vs.toDF(), cs.toDF())
      .writeStream.format("memory").queryName("join_out").outputMode("append")
      .option("checkpointLocation", ckpt("join")).start()
    vs.addData(views)
    cs.addData(clicks)
    out.processAllAvailable()
    out.stop()

    val vb = spark.createDataset(views).toDF()
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("v_ts"))
    val cb = spark.createDataset(clicks).toDF()
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    val batchTwin = vb.join(cb,
        col("user_id") === col("c_user_id") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("interval 30 minutes"))
      .select(col("user_id"), col("view_id"), col("click_id"), col("v_ts"), col("c_ts"))
    assertSameRows(spark.table("join_out"), batchTwin, "interval join")
  }

  test("left interval join emits matches and watermark-proven NULL rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = mkEvents()
    val views = events.filter(_.event_type == "view")
    val clicks = events.filter(_.event_type == "click")
    def flush(u: Long) = Ev(-1L, at(100000), u, "view", 0.0)

    val vs = MemoryStream[Ev]; val cs = MemoryStream[Ev]
    val out = EventStreams.leftIntervalJoinPairs(vs.toDF(), cs.toDF())
      .writeStream.format("memory").queryName("ljoin_out").outputMode("append")
      .option("checkpointLocation", ckpt("ljoin")).start()
    vs.addData(views :+ flush(-1L))
    cs.addData(clicks :+ flush(-2L))
    out.processAllAvailable()
    // second tick lets the advanced watermark evict + emit NULL rows
    vs.addData(flush(-3L)); cs.addData(flush(-4L))
    out.processAllAvailable()
    out.stop()
    val got = spark.table("ljoin_out").filter(col("user_id") >= 0)

    val vb = spark.createDataset(views).toDF()
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("v_ts"))
    val cb = spark.createDataset(clicks).toDF()
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    val batchTwin = vb.join(cb,
        col("user_id") === col("c_user_id") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("interval 30 minutes"), "left")
      .select(col("user_id"), col("view_id"), col("click_id"), col("v_ts"), col("c_ts"))
    assertSameRows(got, batchTwin, "left interval join")
  }

  test("streaming session windows equal the batch sessionize twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = mkEvents()
    // sentinel advances the watermark far past every real session's end
    def flush(id: Long) = Ev(-100 - id, at(100000 + id), -1L, "view", 0.0)

    val src = MemoryStream[Ev]
    val out = EventStreams.sessionized(src.toDF())
      .writeStream.format("memory").queryName("session_out").outputMode("append")
      .option("checkpointLocation", ckpt("session")).start()
    src.addData(events :+ flush(1))
    out.processAllAvailable()
    src.addData(flush(2)) // watermark from flush(1) closes all real sessions
    out.processAllAvailable()
    out.stop()
    val got = spark.table("session_out").filter(col("user_id") >= 0)

    // batch twin — also pins size(collect_set) == COUNT(DISTINCT)
    val batchTwin = spark.createDataset(events).toDF()
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        round(sum(col("value")), 2).as("total_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("n_types"), col("total_value"))
    assertSameRows(got, batchTwin, "session windows")
  }

  test("flatMapGroupsWithState funnel chain equals the batch chained left joins") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = mkEvents()
    def part(t: String) = events.filter(_.event_type == t)
    def flush(id: Long) = Ev(id, at(100000 + id), -1L, "view", 0.0)

    val src = MemoryStream[Ev]
    val out = graft.streaming.FunnelState.funnelChain(src.toDF())
      .writeStream.format("memory").queryName("funnel_out").outputMode("append")
      .option("checkpointLocation", ckpt("funnel")).start()
    src.addData(events :+ flush(1))
    out.processAllAvailable()
    src.addData(flush(2)) // watermark from flush(1) now fires the timeouts
    out.processAllAvailable()
    out.stop()
    val got = spark.table("funnel_out").filter(col("user_id") >= 0)

    def b(t: String, idCol: String, tsCol: String, userCol: String) =
      spark.createDataset(part(t)).toDF()
        .select(col("user_id").as(userCol), col("event_id").as(idCol), col("ts").as(tsCol))
    val batchTwin = b("view", "view_id", "v_ts", "user_id")
      .join(b("click", "click_id", "c_ts", "c_user_id"),
        col("user_id") === col("c_user_id") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("interval 30 minutes"), "left")
      .join(b("purchase", "purchase_id", "p_ts", "p_user_id"),
        col("c_user_id") === col("p_user_id") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("interval 2 hours"), "left")
      .select(col("user_id"), col("view_id"), col("click_id"), col("purchase_id"),
        col("v_ts"), col("c_ts"), col("p_ts"))
    assertSameRows(got, batchTwin, "funnel chain")
  }

  test("storage-chained funnel rollup (two queries via tables) equals the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = mkEvents()
    def part(t: String) = events.filter(_.event_type == t)
    // sentinels tick the source watermark forward 25 min at a time; the
    // resulting sentinel summaries are what advance the ROLLUP query's
    // own v_ts watermark past the real window ends (≤ at(180))
    def flush(k: Long) = Ev(-100 - k, at(200 + 25 * k), -1L, "view", 0.0)

    val summarySchema = StructType(Seq(
      StructField("user_id", LongType), StructField("view_id", LongType),
      StructField("v_ts", TimestampType), StructField("clicked", BooleanType),
      StructField("purchased", BooleanType), StructField("n_clicks", LongType),
      StructField("n_purchases", LongType)))
    val rollupSchema = StructType(Seq(
      StructField("window_start", TimestampType), StructField("n_views", LongType),
      StructField("n_clicked_views", LongType), StructField("n_converted_views", LongType),
      StructField("n_clicks", LongType), StructField("n_purchases", LongType),
      StructField("conversion_rate", DoubleType)))
    val summaryTable = new GraftTable(spark,
      TableDef("funnel_summaries", summarySchema), wh("funnel_sum"))
    val rollupTable = new GraftTable(spark,
      TableDef("funnel_hourly", rollupSchema), wh("funnel_roll"))

    val src = MemoryStream[Ev]
    val q1 = Sinks.funnelSummaryAppend(src.toDF(), summaryTable, ckpt("fsum"))
    val q2 = Sinks.funnelRollupFromTable(summaryTable, rollupTable, ckpt("froll"))
    src.addData(events)
    q1.processAllAvailable(); q2.processAllAvailable()
    for (k <- 0L to 9L) {
      src.addData(flush(k))
      q1.processAllAvailable(); q2.processAllAvailable()
    }
    q1.stop(); q2.stop()
    // sentinel summaries land in windows from 03:00 on that are not all
    // closed by the final watermark; compare the fully-final real range
    val got = rollupTable.readLogical()
      .filter(col("window_start") < lit(at(180)))
    assert(got.count() > 0, "rollup emitted no finalized windows")
    assertSameRows(got, hourlyBatchTwin(events), "hourly funnel rollup")
  }

  /** The batch answer the streaming hourly funnel rollups must match,
    * restricted to the fully-final real window range (< at(180)).
    */
  private def hourlyBatchTwin(events: Seq[Ev]): DataFrame = {
    import spark.implicits._
    def b(t: String, idCol: String, tsCol: String, userCol: String) =
      spark.createDataset(events.filter(_.event_type == t)).toDF()
        .select(col("user_id").as(userCol), col("event_id").as(idCol), col("ts").as(tsCol))
    val perView = b("view", "view_id", "v_ts", "user_id")
      .join(b("click", "click_id", "c_ts", "c_user_id"),
        col("user_id") === col("c_user_id") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("interval 30 minutes"), "left")
      .join(b("purchase", "purchase_id", "p_ts", "p_user_id"),
        col("c_user_id") === col("p_user_id") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("interval 2 hours"), "left")
      .groupBy(col("user_id"), col("view_id"), col("v_ts"))
      .agg(countDistinct(col("click_id")).as("n_clicks"),
        countDistinct(col("purchase_id")).as("n_purchases"))
    perView
      .groupBy(window(col("v_ts"), "1 hour"))
      .agg(count(lit(1)).as("n_views"),
        count(when(col("n_clicks") > 0, 1)).as("n_clicked_views"),
        count(when(col("n_purchases") > 0, 1)).as("n_converted_views"),
        sum(col("n_clicks")).as("n_clicks"),
        sum(col("n_purchases")).as("n_purchases"))
      .select(col("window.start").as("window_start"),
        col("n_views"), col("n_clicked_views"), col("n_converted_views"),
        col("n_clicks"), col("n_purchases"),
        round(col("n_converted_views") / col("n_views"), 4).as("conversion_rate"))
      .filter(col("window_start") < lit(at(180)))
  }

  test("sink replay of the same micro-batch id commits exactly once") {
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("window_start", TimestampType),
      StructField("event_type", StringType),
      StructField("n", LongType),
      StructField("total_value", DoubleType),
      StructField("avg_value", DoubleType)))
    val table = new GraftTable(spark,
      TableDef("eo", schema, keys = Seq("window_start", "event_type")), wh("eo"))
    val batch = Seq((at(0), "view", 3L, 1.5, 0.5)).toDF(schema.fieldNames: _*)

    // Spark retries a failed micro-batch under the SAME id — the guard
    // must make the second delivery a no-op, and the next id commit
    Sinks.exactlyOnce(table, "t", 0L)(table.upsert(batch))
    val v1 = table.currentVersion
    Sinks.exactlyOnce(table, "t", 0L)(table.upsert(batch))
    assert(table.currentVersion == v1, "replayed batchId must not commit again")
    Sinks.exactlyOnce(table, "t", 1L)(table.upsert(batch))
    assert(table.currentVersion == v1 + 1)
    assert(table.lastCommittedBatch("t") == 1L)
    assert(table.lastCommittedBatch("other") == -1L)
  }

  test("sink batch mark is atomic with the table commit (no replay window)") {
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("window_start", TimestampType),
      StructField("event_type", StringType),
      StructField("n", LongType),
      StructField("total_value", DoubleType),
      StructField("avg_value", DoubleType)))
    val whDir = wh("eo_atomic")
    val table = new GraftTable(spark,
      TableDef("eo_atomic", schema, keys = Seq("window_start", "event_type")), whDir)
    val batch = Seq((at(0), "view", 3L, 1.5, 0.5)).toDF(schema.fieldNames: _*)

    // the mark must live INSIDE the commit json, not a side file: a crash
    // immediately after the commit rename must still see the batch as done
    Sinks.exactlyOnce(table, "t", 0L)(table.append(batch))
    val sideFile = Paths.get(s"$whDir/eo_atomic/_commits/stream-state.json")
    assert(!Files.exists(sideFile),
      "data-bearing batch must not depend on the non-atomic side file")
    assert(table.lastCommittedBatch("t") == 0L)

    // crash AFTER the commit landed but before foreachBatch returned:
    // Spark replays the same batchId; the embedded mark must skip it
    val boom = intercept[RuntimeException] {
      Sinks.exactlyOnce(table, "t", 1L) { table.append(batch); throw new RuntimeException("crash") }
    }
    assert(boom.getMessage == "crash")
    val v1 = table.currentVersion
    Sinks.exactlyOnce(table, "t", 1L)(table.append(batch)) // the retry
    assert(table.currentVersion == v1, "retry of a committed batch must be a no-op")
    assert(table.read().count() == 2, "each batch's rows appended exactly once")

    // empty batch: no commit to embed in — side-file mark is fine (a
    // replay would re-commit nothing)
    Sinks.exactlyOnce(table, "t", 2L) { () }
    assert(table.lastCommittedBatch("t") == 2L)

    // maintenance must not lose the mark: compaction + expiry rewrite /
    // drop commits, the carried-forward map keeps the watermark
    table.compact(targetBytes = 1024 * 1024)
    table.expireSnapshots(olderThanMs = -1000L)
    assert(table.lastCommittedBatch("t") == 2L)
  }

  test("file-stream source: parquet files landing in a dir drive the hourly upsert") {
    import spark.implicits._
    val events = mkEvents().sortBy(_.ts.getTime)
    val (first, second) = events.splitAt(events.size / 2)
    val srcDir = wh("filesrc") + "/incoming"
    java.nio.file.Files.createDirectories(Paths.get(srcDir))

    val schema = StructType(Seq(
      StructField("window_start", TimestampType),
      StructField("event_type", StringType),
      StructField("n", LongType),
      StructField("total_value", DoubleType),
      StructField("avg_value", DoubleType)))
    val table = new GraftTable(spark,
      TableDef("hourly_fs", schema, keys = Seq("window_start", "event_type")),
      wh("filesrc_wh"))

    // S1: a real file-based streaming source (the env has no Kafka jars;
    // files landing in a directory are the offline stand-in)
    val evSchema = spark.createDataset(events).schema
    val stream = spark.readStream.schema(evSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val q = Sinks.hourlyUpsert(stream, table, ckpt("filesrc"))

    spark.createDataset(first).coalesce(1).write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    spark.createDataset(second).coalesce(1).write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    q.stop()

    val batchTwin = spark.createDataset(events).toDF()
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("total_value"))
      .withColumn("avg_value",
        expr("CAST((CAST(round(total_value * 100) AS BIGINT) * 200 + n) DIV (2 * n) AS DOUBLE) / 10000"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"), col("total_value"), col("avg_value"))
    assertSameRows(table.readLogical(), batchTwin, "file-stream hourly upsert")
  }

  test("query restart from checkpoint resumes without loss or duplication") {
    import spark.implicits._
    val events = mkEvents().sortBy(_.ts.getTime)
    val (first, second) = events.splitAt(events.size / 2)
    val srcDir = wh("restart") + "/incoming"
    java.nio.file.Files.createDirectories(Paths.get(srcDir))
    val schema = StructType(Seq(
      StructField("window_start", TimestampType),
      StructField("event_type", StringType),
      StructField("n", LongType),
      StructField("total_value", DoubleType),
      StructField("avg_value", DoubleType)))
    val table = new GraftTable(spark,
      TableDef("hourly_restart", schema, keys = Seq("window_start", "event_type"),
        mergeOnRead = true),
      wh("restart_wh"))
    val evSchema = spark.createDataset(events).schema
    def start() = Sinks.hourlyUpsert(
      spark.readStream.schema(evSchema).option("maxFilesPerTrigger", "1").parquet(srcDir),
      table, Paths.get(sys.props("java.io.tmpdir"), "graft_ckpt", "restart").toString)

    val ck = Paths.get(sys.props("java.io.tmpdir"), "graft_ckpt", "restart")
    if (Files.exists(ck))
      Files.walk(ck).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

    // run 1: first half, then STOP — simulating a crash/redeploy
    val q1 = start()
    spark.createDataset(first).coalesce(1).write.mode("append").parquet(srcDir)
    q1.processAllAvailable()
    q1.stop()
    // run 2: same checkpoint picks up from the logged offsets
    spark.createDataset(second).coalesce(1).write.mode("append").parquet(srcDir)
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    val batchTwin = spark.createDataset(events).toDF()
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("total_value"))
      .withColumn("avg_value",
        expr("CAST((CAST(round(total_value * 100) AS BIGINT) * 200 + n) DIV (2 * n) AS DOUBLE) / 10000"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"), col("total_value"), col("avg_value"))
    assertSameRows(table.readLogical(), batchTwin, "restart recovery")
  }

  test("multi-sink fan-out feeds clean/rejected/quality consistently from one pass") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val good = mkEvents()
    val bad = Seq(
      Ev(777L, at(10), -3L, "view", 1.0),   // test user
      Ev(778L, at(11), 4L, "click", -5.0))  // negative value
    val evSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val rejSchema = StructType(evSchema.fields :+ StructField("reject_reason", StringType))
    val qSchema = StructType(Seq(
      StructField("event_type", StringType), StructField("n_total", LongType),
      StructField("n_rejected", LongType), StructField("batch_id", LongType)))
    val root = wh("fanout")
    val clean = new GraftTable(spark, TableDef("clean", evSchema, Seq(DayTransform("ts"))), root)
    val rejected = new GraftTable(spark, TableDef("rejected", rejSchema), root)
    val quality = new GraftTable(spark,
      TableDef("quality", qSchema, keys = Seq("event_type")), root)

    val src = MemoryStream[Ev]
    val q = Sinks.multiSinkFanout(src.toDF(), clean, rejected, quality, ckpt("fanout"))
    src.addData(good ++ bad)
    q.processAllAvailable()
    q.stop()

    assert(clean.readLogical().count() == good.size.toLong)
    assert(rejected.readLogical().count() == 2)
    assert(rejected.readLogical().filter(col("reject_reason") === "TEST_USER").count() == 1)
    val qrows = quality.readLogical()
    assert(qrows.agg(sum("n_total")).head.getLong(0) == (good.size + bad.size).toLong)
    assert(qrows.agg(sum("n_rejected")).head.getLong(0) == 2L)
  }

  private def velocityBatchTwin(events: Seq[Ev]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("epoch_s")).rangeBetween(-3600L, Window.currentRow)
    spark.createDataset(events).toDF()
      .withColumn("epoch_s", col("ts").cast("long"))
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .select(col("event_id"), col("user_id"), col("ts"),
        count(lit(1)).over(w).as("n_1h"),
        sum(col("cents")).over(w).as("cents_1h"))
  }

  private def runVelocity(name: String, batches: Seq[Seq[Ev]]): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Ev]
    val out = graft.streaming.VelocityState.velocity(src.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", ckpt(name)).start()
    batches.foreach { b => src.addData(b); out.processAllAvailable() }
    out.stop()
    spark.table(name).filter(col("user_id") >= 0)
  }

  test("streamed velocity equals the batch rolling-range twin") {
    val events = mkEvents()
    // sentinels advance the watermark far past every real event
    def flush(id: Long) = Ev(-900 - id, at(100000 + id), -1L, "view", 0.0)
    val got = runVelocity("velocity_out",
      Seq(events.sortBy(_.ts.getTime) :+ flush(1), Seq(flush(2))))
    assertSameRows(got, velocityBatchTwin(events), "rolling velocity")
  }

  test("velocity keeps microsecond timestamps and waits for same-second cross-batch peers") {
    // fixture-realistic timestamps: nonzero MICROSECONDS, and a
    // same-second peer that arrives in a LATER micro-batch while the
    // watermark already sits INSIDE the shared second (10.5s here) —
    // the naive `ts < watermark` finalization emits E1 without E2 and
    // a ms-precision buffer would emit a truncated ts; both must not
    def ts(s: String) = Timestamp.valueOf(s)
    val e1 = Ev(1L, ts("2024-01-01 00:00:10.000123"), 1L, "view", 1.0)
    val e2 = Ev(2L, ts("2024-01-01 00:00:10.950456"), 1L, "view", 2.0)
    val push1 = Ev(-901L, ts("2024-01-01 00:00:40.5"), -1L, "view", 0.0)   // wm -> 10.5s
    val push2 = Ev(-902L, ts("2024-01-01 00:00:41.6"), -1L, "view", 0.0)   // wm -> 11.6s
    def flush(id: Long) = Ev(-900 - id, ts("2024-01-02 00:00:00"), -1L, "view", 0.0)

    val got = runVelocity("velocity_micro_out",
      Seq(Seq(e1, push1), Seq(e2, push2), Seq(flush(3)), Seq(flush(4))))
    assertSameRows(got, velocityBatchTwin(Seq(e1, e2)), "sub-second velocity")
  }
}
