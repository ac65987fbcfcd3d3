package graft.streaming

import graft.tables.{GraftTable, SinkTable}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming sinks into the snapshot-log table layer.
  *
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
      table: SinkTable, sinkId: String, batchId: Long)(commit: => Unit): Unit =
    if (batchId > table.lastCommittedBatch(sinkId))
      table.withSinkMark(sinkId, batchId)(commit)

  /** The foreachBatch body of the single-table sinks: persist the batch
    * (the emptiness guard and the write are two actions, and each would
    * otherwise re-execute the upstream plan from scratch — stateful
    * aggregation and state-store reads included), then make the
    * exactly-once `write` unless the batch is empty.
    */
  private def guardedWrite(table: SinkTable, sinkId: String)(
      write: DataFrame => Unit): (Dataset[Row], Long) => Unit =
    (batch, batchId) => {
      batch.persist()
      try exactlyOnce(table, sinkId, batchId) {
        if (!batch.isEmpty) write(batch)
      } finally { batch.unpersist(); () }
    }

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
  def hourlyUpsert(events: DataFrame, table: SinkTable, checkpoint: String): StreamingQuery =
    EventStreams.tumblingHourly(events)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(guardedWrite(table, "hourlyUpsert")(b => table.upsert(b)))
      .start()

  /** Continuous SLIDING-window aggregation (W1: 1 h size / 15 min hop)
    * → keyed upsert table — the `rolling_metrics_by_bidder` analog of
    * the reference (aggregation_jobs.sql:60-81 HOP windows): each event
    * revises the 4 overlapping windows it falls in, and every
    * micro-batch upserts the revised (window_start, event_type) rows
    * latest-wins. Same merge-on-read guidance as [[hourlyUpsert]]; the
    * hop multiplies the ROW count (4 windows per event), not the state
    * or commit cost per key.
    */
  def slidingUpsert(events: DataFrame, table: SinkTable, checkpoint: String): StreamingQuery =
    EventStreams.sliding(events)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(guardedWrite(table, "slidingUpsert")(b => table.upsert(b)))
      .start()

  /** Funnel stage 1: per-view summaries → append table. Summary rows
    * are final when emitted (the funnel state only finalizes a view once
    * the watermark proves its match set complete), so append semantics
    * are exact.
    */
  def funnelSummaryAppend(events: DataFrame, table: SinkTable, checkpoint: String): StreamingQuery =
    FunnelState.funnelViewSummary(events).toDF()
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(guardedWrite(table, "funnelSummaryAppend")(b => table.append(b)))
      .start()

  /** Funnel stage 2: tail the summary table as a file stream and roll it
    * up hourly (funnel_jobs.sql:66-99) into a FINAL row per window —
    * jobs chained through storage exactly as the reference chains its
    * Flink jobs through Iceberg tables (see [[FunnelState.funnelHourly]]
    * for why in-query chaining can't work). Append — not upsert —
    * because the rollup watermark guarantees a window is complete when
    * emitted.
    */
  def funnelRollupFromTable(
      summaryTable: SinkTable,
      rollupTable: SinkTable,
      checkpoint: String): StreamingQuery = {
    val summaries = summaryTable.spark.readStream
      .schema(summaryTable.defn.schema)
      .parquet(summaryTable.dataPath)
    FunnelState.funnelHourly(summaries)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(guardedWrite(rollupTable, "funnelRollupFromTable")(
        b => rollupTable.append(b)))
      .start()
  }

  /** Streaming dedup → append table (A3 + S4 composed). */
  def dedupAppend(events: DataFrame, table: SinkTable, checkpoint: String): StreamingQuery =
    EventStreams.dedup(events)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(guardedWrite(table, "dedupAppend")(b => table.append(b)))
      .start()

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
  def quantileSketchAppend(events: DataFrame, table: SinkTable,
      checkpoint: String): StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        exactlyOnce(table, "quantileSketchAppend", batchId) {
          // guard on the SOURCE batch: bins.isEmpty would run the full
          // bin aggregation once for the check and again for the append
          if (!batch.isEmpty)
            table.append(graft.functions.SketchOps.quantileBins(
              batch.toDF(), "value", "event_type"))
        }
        ()
      }
      .start()

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
  def cmSketchAppend(docs: DataFrame, table: SinkTable,
      checkpoint: String): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        exactlyOnce(table, "cmSketchAppend", batchId) {
          // guard on the SOURCE batch (see quantileSketchAppend)
          if (!batch.isEmpty)
            table.append(graft.functions.SketchOps.cmCells(batch.toDF()))
        }
        ()
      }
      .start()

  /** Point-query the streamed CM sketch: merge the appended partials
    * (sum per (i, cell)) and take the min over the d probe rows for
    * each queried term — the classic CM estimate, with the same
    * one-sided n_cm ≥ n_exact guarantee the batch query pins.
    */
  def cmEstimate(table: SinkTable, terms: Seq[String]): DataFrame = {
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
  def quantilesFromSketchTable(table: SinkTable): DataFrame =
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
      clean: SinkTable,
      rejected: SinkTable,
      quality: SinkTable,
      checkpoint: String): StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        batch.persist()
        try {
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
        } finally batch.unpersist()
        ()
      }
      .start()
}
