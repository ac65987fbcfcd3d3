package graft.streaming

import graft.functions.{SharedHash, SimhashSignature}
import graft.tables.GraftTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming corpus ingestion: the LLM-data-pipeline operators composed
  * into the reference's ingestion-job shape, applied to documents
  * instead of bid events. Watermarked source → pure-map enrichment
  * (content digest, token count, native one-pass simhash — no shuffle,
  * so the whole enrich stage is streaming-safe and stays in the scan
  * projection) → in-flight exact dedup on the digest within the
  * watermark horizon (state bounded by rate × delay, not corpus size) →
  * quality-gated fan-out into clean/rejected tables from ONE cached
  * micro-batch (the X1 statement-set shape), each sink exactly-once.
  *
  * At 100 TB this is the front door of the pipeline: per-document work
  * is embarrassingly parallel, dedup state holds only (digest) keys
  * inside the late horizon, and the near-dup layer (minhash/LSH over
  * the landed table) runs as a downstream batch pass — in-flight
  * near-dup would need unbounded cross-document state.
  */
object CorpusIngest {

  /** Pure-map enrichment + deterministic quality gate (Gopher-style
    * integer rules: too short, too few tokens, low lexical diversity).
    */
  def enrich(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    docs
      // null text must NOT produce a NULL digest: the in-flight dedup
      // keys on digest and treats NULLs as equal, which would silently
      // collapse every malformed doc into one surviving row — so each
      // null-text doc gets a per-doc sentinel digest (NUL prefix cannot
      // collide with any real text hash input) and a MALFORMED reject
      .withColumn("digest",
        when(col("text").isNull,
          SharedHash.h64(concat(lit("\u0000malformed:"), col("doc_id").cast("string"))))
          .otherwise(SharedHash.h64(col("text"))))
      .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")))
      .withColumn("simhash",
        org.apache.spark.sql.GraftSqlBridge.column(SimhashSignature(
          org.apache.spark.sql.GraftSqlBridge.expression(words))))
      .withColumn("reject_reason",
        when(col("text").isNull, "MALFORMED")
          .when(length(col("text")) < 8, "TOO_SHORT")
          .when(col("n_tokens") < 3, "TOO_FEW_TOKENS")
          .when(size(array_distinct(words)) * 5 < size(words), "LOW_DIVERSITY"))
  }

  /** Watermarked enrichment with exact in-flight dedup: the first
    * arrival of a content digest wins; later copies inside the horizon
    * are dropped, and state for digests older than the watermark is
    * evicted.
    */
  def dedupedEnrich(docs: DataFrame): DataFrame =
    enrich(docs.withWatermark("ingest_ts", EventStreams.WatermarkDelay))
      .dropDuplicatesWithinWatermark("digest")

  /** The ingestion job: one micro-batch pass fans out to both tables. */
  def ingest(
      docs: DataFrame,
      clean: GraftTable,
      rejected: GraftTable,
      checkpoint: String): StreamingQuery =
    Sinks.start(dedupedEnrich(docs), checkpoint) { (batch, batchId) =>
      val isReject = col("reject_reason").isNotNull
      // one guard per table: a crash mid-fan-out replays only the
      // sinks that missed this batch
      Sinks.exactlyOnce(clean, "corpusIngest", batchId) {
        clean.append(batch.filter(!isReject).drop("reject_reason"))
      }
      Sinks.exactlyOnce(rejected, "corpusIngest", batchId) {
        rejected.append(batch.filter(isReject))
      }
    }
}
