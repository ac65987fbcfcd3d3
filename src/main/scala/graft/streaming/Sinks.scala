package graft.streaming

import graft.tables.GraftTable
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming sinks into the snapshot-log table layer.
  *
  *  - [[start]] and its one-table form [[into]] — the one micro-batch
  *    protocol every streaming write to a table runs through, and
  *    [[tail]] — the one file stream over a table's data;
  *  - [[hourlyUpsert]] — S5/A7: update-mode aggregation committed per
  *    micro-batch as a keyed upsert (the reference's continuously-revised
  *    Iceberg upsert tables, hourly_impressions_by_geo.yml:17-21);
  *  - [[multiSinkFanout]] — X1: ONE streaming query feeding several
  *    append tables from one cached micro-batch — the analog of Flink's
  *    EXECUTE STATEMENT SET fusing shared source reads
  *    (insert_jobs.sql:11-235, SqlRunner.java:22-25). The alternative
  *    (N independent queries) reads the source N times; at 100 TB the
  *    single cached pass is the difference that matters.
  */
object Sinks {

  /** Run `commit` only if `batchId` hasn't already landed in `table`
    * for this sink. Spark retries a failed micro-batch under the SAME
    * batchId, and foreachBatch offers at-least-once delivery — without
    * this guard a crash between the table commit and the checkpoint
    * write would replay the batch and double-append it. The batch id is
    * embedded in the table commit's own atomic tmp+rename json
    * ([[GraftTable.withSinkMark]]) — the same scheme Iceberg's sink uses
    * via snapshot summary properties — so there is no window where data
    * is committed but the mark is not: every sink below is exactly-once
    * end to end. `commit` must make at most ONE table commit (each one
    * embeds the mark, so a second commit in the same body would not be
    * replay-protected independently); every sink below commits once.
    */
  private[graft] def exactlyOnce(
      table: GraftTable, sinkId: String, batchId: Long)(commit: => Unit): Unit =
    if (batchId > table.lastCommittedBatch(sinkId))
      table.withSinkMark(sinkId, batchId)(commit)

  /** The width rule for streaming plans: a micro-batch stage runs at
    * most one task per core. A source that gives a partition per append
    * (`MemoryStream`, small-file tails) hands a trigger as many tiny
    * partitions as chunks arrived, and a stage of them holds every core
    * for task launches while other queries' stages queue behind it
    * (the local scheduler is FIFO). Narrow: the rows and any downstream
    * exchange, state-store partitioning included, are unchanged, and a
    * frame already at or under the core count passes as it is.
    */
  def perCore(df: DataFrame): DataFrame =
    df.coalesce(df.sparkSession.sparkContext.defaultParallelism)

  /** The one micro-batch protocol every streaming write to a table runs
    * through (the Structured Streaming sink contract: a replayable
    * batch, keyed by its epoch, into idempotent sinks). Each batch is
    * persisted in at most one partition per core, probed for rows ONCE,
    * handed to `body` only when it has rows, and unpersisted whatever
    * `body` does. The persist is what keeps the probe and the writes
    * from each re-executing the upstream plan — stateful operators and
    * state-store reads included. An empty batch commits nothing and
    * marks nothing: its replay carries the same offsets, so it is empty
    * again. `body` makes its own
    * [[exactlyOnce]] commits and owns any frame it derives and pins.
    *
    * The pin applies the width rule ([[perCore]]). For a stateless query
    * it sets the width of the whole plan, source stage included. For a
    * stateful query it sits after the state shuffle, so the query must
    * apply [[perCore]] to its source itself, upstream of the stateful
    * operator, as [[Jobs.funnel]] does.
    */
  def start(stream: DataFrame, checkpoint: String, mode: String = "append")(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // building the cache is one more stage over the batch's
        // partitions, often many tiny ones: pin it one per core
        val pinned = perCore(batch).persist()
        try if (!pinned.isEmpty) body(pinned, batchId)
        finally { pinned.unpersist(); () }
      }
      .start()

  /** [[start]] into one table: `write` lands the batch under
    * [[exactlyOnce]] for `sinkId`.
    */
  def into(stream: DataFrame, table: GraftTable, sinkId: String, checkpoint: String,
      mode: String = "append")(write: DataFrame => Unit): StreamingQuery =
    start(stream, checkpoint, mode)((b, batchId) =>
      exactlyOnce(table, sinkId, batchId)(write(b)))

  /** A stored table tailed as a file stream — how jobs chain through
    * storage. Recursive lookup: partition dirs hold the files, and every
    * logical column lives in the data files.
    */
  def tail(t: GraftTable): DataFrame = t.spark.readStream
    .schema(t.defn.schema)
    .option("recursiveFileLookup", "true")
    .parquet(t.dataPath)

  /** Continuous hourly aggregation → keyed upsert table. The table MUST
    * be keyed by (window_start, event_type); every micro-batch re-emits
    * revised rows for windows still inside the watermark, and the upsert
    * replaces them latest-wins — exactly the reference's
    * "continuously revise per-key rows" comment (aggregation_jobs.sql:20-23).
    * Declare the table `mergeOnRead = true` for the 100 TB path: a
    * copy-on-write upsert rewrites the whole table EVERY micro-batch,
    * merge-on-read commits only the revised rows (compact on a
    * maintenance cadence). Both strategies are latest-wins-identical —
    * TablesSpec and the s5 oracle pair prove it.
    */
  def hourlyUpsert(events: DataFrame, table: GraftTable, checkpoint: String): StreamingQuery =
    into(EventStreams.tumblingHourly(events), table, "hourlyUpsert", checkpoint, "update")(
      table.upsert)

  /** Continuous SLIDING-window aggregation (W1: 1 h size / 15 min hop)
    * → keyed upsert table — the `rolling_metrics_by_bidder` analog of
    * the reference (aggregation_jobs.sql:60-81 HOP windows): each event
    * revises the 4 overlapping windows it falls in, and every
    * micro-batch upserts the revised (window_start, event_type) rows
    * latest-wins. Same merge-on-read guidance as [[hourlyUpsert]]; the
    * hop multiplies the ROW count (4 windows per event), not the state
    * or commit cost per key.
    */
  def slidingUpsert(events: DataFrame, table: GraftTable, checkpoint: String): StreamingQuery =
    into(EventStreams.sliding(events), table, "slidingUpsert", checkpoint, "update")(
      table.upsert)

  /** Funnel stage 1: per-view summaries → append table. Summary rows
    * are final when emitted (the funnel state only finalizes a view once
    * the watermark proves its match set complete), so append semantics
    * are exact.
    */
  def funnelSummaryAppend(events: DataFrame, table: GraftTable, checkpoint: String): StreamingQuery =
    into(FunnelState.funnelViewSummary(events).toDF(), table, "funnelSummaryAppend",
      checkpoint)(table.append)

  /** Funnel stage 2: tail the summary table as a file stream and roll it
    * up hourly (funnel_jobs.sql:66-99) into a FINAL row per window —
    * jobs chained through storage exactly as the reference chains its
    * Flink jobs through Iceberg tables (see [[FunnelState.funnelHourly]]
    * for why in-query chaining can't work). Append — not upsert —
    * because the rollup watermark guarantees a window is complete when
    * emitted.
    */
  def funnelRollupFromTable(
      summaryTable: GraftTable,
      rollupTable: GraftTable,
      checkpoint: String): StreamingQuery =
    into(FunnelState.funnelHourly(tail(summaryTable)), rollupTable,
      "funnelRollupFromTable", checkpoint)(rollupTable.append)

  /** Streaming twin of the histogram quantile sketch
    * ([[graft.functions.SketchOps.approxPercentile]]): every micro-batch
    * bins its rows into integer-cent histogram PARTIALS
    * (event_type, bin, cnt) and APPENDS them — no stateful aggregation
    * and no upsert, because additive bin counts are exactly the
    * mergeable-sketch property: partial histograms from any set of
    * commits (a micro-batch, a day, a replayed backfill) merge into a
    * correct sketch by a plain sum at read time
    * ([[quantilesFromSketchTable]]). At 100 TB this is the winning
    * shape — the stream holds no quantile state across batches, each
    * append is at most groups × occupied-bins rows, and the estimate
    * stage only ever walks the tiny bin table.
    */
  def quantileSketchAppend(events: DataFrame, table: GraftTable,
      checkpoint: String): StreamingQuery =
    into(events, table, "quantileSketchAppend", checkpoint)(b =>
      table.append(graft.functions.SketchOps.quantileBins(b, "value", "event_type")))

  /** Streaming twin of the count-min heavy-hitter sketch
    * ([[graft.functions.SketchOps.cmHeavyHitters]]): every micro-batch
    * of documents folds into d×w additive cell-count PARTIALS
    * (i, cell, cnt) and APPENDS them — same mergeable-partial shape as
    * [[quantileSketchAppend]]: no state across batches, each append
    * bounded by the d×w grid regardless of batch size, replays dropped
    * whole by the sink marker, and a plain sum at read time IS the
    * sketch merge. At 100 TB term-frequency tracking over a document
    * firehose is exactly this: 4096 cells of state total, vs a
    * vocabulary-sized keyed aggregation.
    */
  def cmSketchAppend(docs: DataFrame, table: GraftTable,
      checkpoint: String): StreamingQuery =
    into(docs, table, "cmSketchAppend", checkpoint)(b =>
      table.append(graft.functions.SketchOps.cmCells(b)))

  /** Point-query the streamed CM sketch: merge the appended partials
    * (sum per (i, cell)) and take the min over the d probe rows for
    * each queried term — the classic CM estimate, with the same
    * one-sided n_cm ≥ n_exact guarantee the batch query pins.
    */
  def cmEstimate(table: GraftTable, terms: Seq[String]): DataFrame = {
    import graft.functions.SketchOps.{cmCellOf, CmD}
    val spark = table.spark
    import spark.implicits._
    val merged = table.readLogical()
      .groupBy(col("i"), col("cell"))
      .agg(sum(col("cnt")).as("cnt"))
    val probes = terms.toDF("term")
      .select(col("term"), explode(sequence(lit(0), lit(CmD - 1))).as("i"))
      .withColumn("cell", cmCellOf(col("i"), col("term")))
    broadcast(probes).join(merged, Seq("i", "cell"))
      .groupBy(col("term"))
      .agg(min(col("cnt")).as("n_cm"))
  }

  /** Merge the appended histogram partials (sum per (group, bin)) and
    * run the shared CDF-walk estimate — bit-identical to binning the
    * full history in one batch pass, which StreamingSpec pins.
    */
  def quantilesFromSketchTable(table: GraftTable): DataFrame =
    graft.functions.SketchOps.quantileFromBins(
      table.readLogical()
        .groupBy(col("event_type"), col("bin"))
        .agg(sum(col("cnt")).as("cnt")),
      "event_type")

  /** X1 — statement-set analog: one query, one cached batch, three
    * sinks (clean / rejected / per-batch quality counts), mirroring the
    * reference's ingestion job fanning bid requests into clean,
    * enriched, and dq_rejected tables from a single source read.
    */
  def multiSinkFanout(
      events: DataFrame,
      clean: GraftTable,
      rejected: GraftTable,
      quality: GraftTable,
      checkpoint: String): StreamingQuery =
    start(events, checkpoint) { (batch, batchId) =>
      val isReject = col("value") < 0 || col("user_id") < 0
      // one guard PER table: a crash mid-fan-out may leave some
      // sinks committed and others not; the replay fills only the
      // gaps instead of double-appending the finished ones
      exactlyOnce(clean, "fanout", batchId) {
        clean.append(batch.filter(!isReject))
      }
      exactlyOnce(rejected, "fanout", batchId) {
        rejected.append(
          batch.filter(isReject).withColumn("reject_reason",
            when(col("user_id") < 0, "TEST_USER").otherwise("NEGATIVE_VALUE")))
      }
      exactlyOnce(quality, "fanout", batchId) {
        quality.upsert(
          batch.groupBy(col("event_type"))
            .agg(count(lit(1)).as("n_total"),
              count(when(isReject, 1)).as("n_rejected"))
            .withColumn("batch_id", lit(batchId)))
      }
    }
}
