package graft.streaming

import graft.materialize.CdcAggConsumer
import graft.tables.GraftTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streamed producer→changelog→consumer loop: each micro-batch APPENDS
  * into the source snapshot-log table (exactly-once via the sink mark),
  * and the [[CdcAggConsumer]] then folds the commit's changelog rows
  * into its aggregate — the aggregate is maintained CONTINUOUSLY as the
  * stream lands, never recomputed. This is the streaming shape of the
  * m10 batch row (and of a Delta-CDF-fed downstream job): producer and
  * consumer are decoupled through the table's commit log, so the
  * consumer could equally run in another process on its own cadence.
  *
  * Crash story: the append and its batch mark land in one atomic
  * commit (a replayed micro-batch no-ops); the poll's consumed-version
  * mark rides the CONSUMER's merge commit the same way, so a crash
  * between append and poll just means the next poll folds two commits
  * instead of one. Both sides are exactly-once with no coordination
  * beyond the two commit logs.
  *
  * Scale shape: per micro-batch, the append is O(batch) and the poll is
  * O(batch delta) + a group-cardinality-sized target rewrite — the
  * stream never touches the accumulated table (SCALING.md's CDC section
  * records the flat poll curve to 100×).
  */
object CdcIngest {

  val SinkId = "cdc_ingest"

  /** `pollEvery`: consumer poll cadence in micro-batch ids (a batch with
    * no rows runs no body, so it skips its poll). The consumer folds
    * ALL commits since its mark in one changelog window, so the poll
    * cadence decouples from the ingest cadence — exactly how a
    * production changelog consumer runs on its own schedule. Each poll
    * pays a fixed join+commit floor on top of its O(delta) read, so
    * polling every batch doubles the twin's commit count for no extra
    * coverage; every-other-batch halves that floor AND exercises
    * multi-commit windows. The caller's final poll() catches the tail.
    */
  def run(events: DataFrame, src: GraftTable, consumer: CdcAggConsumer,
      checkpoint: String, pollEvery: Int = 2): StreamingQuery =
    Sinks.start(events, checkpoint) { (batch, batchId) =>
      Sinks.exactlyOnce(src, SinkId, batchId)(src.append(batch))
      if (batchId % pollEvery == pollEvery - 1) consumer.poll(): Unit
    }
}
