package graft.streaming

import graft.tables.{GraftTable, TableDef}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming twin of `dedup_keep_best` — cross-source priority dedup
  * over a corpus that arrives continuously. Like the LM dictionaries
  * ([[LmIngest]]), the whole state is a MERGEABLE PARTIAL: per batch,
  * one row per (text_hash, source) carrying that source's best doc
  * (lowest doc_id — the keep-rule's tiebreak) and its copy count.
  * Partials from disjoint batches merge by min/sum, so maintenance is
  * exactly-once appends with zero read-modify-write, arrival order
  * cannot matter, and [[resolve]] reproduces the batch operator's
  * output exactly (LmIngestSpec-style parity pinned by
  * KeepBestIngestSpec). At 100 TB the partials table gets a hash-bucket
  * partition on text_hash and the same merge-compaction cadence as the
  * LM dictionaries.
  */
object KeepBestIngest {

  /** Per-batch partials: min-doc and copy count per (text_hash, source).
    * `src_rank` is materialized so the read-time min_by never re-parses
    * the source name.
    */
  val partialsDef: TableDef = TableDef("keepbest_partials",
    StructType(Seq(
      StructField("text_hash", StringType),
      StructField("source", StringType),
      StructField("src_rank", LongType),
      StructField("best_doc_id", LongType),
      StructField("copies", LongType))))

  private def partialsOf(batch: DataFrame): DataFrame = batch
    .select(md5(col("text")).as("text_hash"), col("doc_id"), col("source"),
      expr("CAST(substring(source, 4) AS BIGINT)").as("src_rank"))
    .groupBy(col("text_hash"), col("source"), col("src_rank"))
    .agg(min(col("doc_id")).as("best_doc_id"), count(lit(1)).as("copies"))
    .select(col("text_hash"), col("source"), col("src_rank"),
      col("best_doc_id"), col("copies"))

  /** `(doc_id, source, text)` stream → exactly-once partial appends. */
  def run(docs: DataFrame, partials: GraftTable, checkpoint: String): StreamingQuery =
    Sinks.into(docs, partials, "keepBestAppend", checkpoint)(b =>
      partials.append(partialsOf(b)))

  /** The batch operator's exact output from the streamed partials:
    * winner = min over per-source bests under (src_rank, doc_id),
    * `n_copies` = summed counts, `n_sources` = distinct sources seen.
    */
  def resolve(partials: GraftTable): DataFrame = {
    val ord = struct(col("src_rank"), col("best_doc_id"))
    partials.readLogical()
      .groupBy(col("text_hash"))
      .agg(
        min_by(col("best_doc_id"), ord).as("keep_doc_id"),
        min_by(col("source"), ord).as("keep_source"),
        sum(col("copies")).as("n_copies"),
        countDistinct(col("source")).as("n_sources"))
  }

  /** Maintenance merge-compaction: collapse history to one partial row
    * per (text_hash, source); [[resolve]] is unchanged by construction.
    */
  def compactPartials(partials: GraftTable): Unit =
    partials.overwrite(
      partials.readLogical()
        .groupBy(col("text_hash"), col("source"), col("src_rank"))
        .agg(min(col("best_doc_id")).as("best_doc_id"), sum(col("copies")).as("copies"))
        .select(col("text_hash"), col("source"), col("src_rank"),
          col("best_doc_id"), col("copies")))
}
