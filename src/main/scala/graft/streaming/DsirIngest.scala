package graft.streaming

import graft.functions.DsirScoring
import graft.tables.{GraftTable, TableDef}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming maintenance of the DSIR bucket statistics — the serving
  * counterpart of `sample_dsir`'s in-query counting, and the newest
  * member of the streamed-dictionary family ([[LmIngest]],
  * [[ClassifierIngest]], [[TemperatureIngest]]).
  *
  * Same one property as the LM dictionaries: bucket occurrence counts
  * (raw AND target-tier) are PARTIAL AGGREGATES — counts from disjoint
  * document sets add — so maintenance is append-only (each micro-batch
  * lands its ≤[[DsirScoring.B]]-row partial exactly-once) and the
  * read-time merge is a SUM. Per-batch write cost is O(min(batch
  * features, B)) regardless of corpus size; the serve-side gate scores
  * against the merged statistics with the identical shared-core code,
  * so streamed-maintained == batch-computed is a hash equality
  * (`dsir_ingest_scores` vs the `sample_dsir` oracle).
  */
object DsirIngest {

  /** Per-batch partial bucket counts; read-time SUM is the merge. */
  val countsDef: TableDef = TableDef("dsir_buckets",
    StructType(Seq(
      StructField("bk", LongType),
      StructField("cr", LongType),
      StructField("ct", LongType))))

  /** `(doc_id, source, text)` stream → per-batch bucket-count partials,
    * exactly-once per micro-batch.
    */
  def countsAppend(docs: DataFrame, counts: GraftTable,
      checkpoint: String): StreamingQuery =
    Sinks.into(docs, counts, "dsirCountsAppend", checkpoint)(b =>
      counts.append(DsirScoring.bucketCounts(DsirScoring.featureBuckets(b))))

  /** The merged statistics (sum over the per-batch partials). */
  def mergedCounts(counts: GraftTable): DataFrame =
    DsirScoring.mergedCounts(counts.readLogical())

  /** Maintenance cadence: pre-merge the partials so reads stop
    * re-summing history (read-equivalent by construction — the merge
    * IS the read semantics).
    */
  def compactCounts(counts: GraftTable): Unit = {
    counts.overwrite(mergedCounts(counts)); ()
  }

  /** Serve-side gate: score any doc set against the CURRENT streamed
    * statistics — identical math (and code) to the batch operator.
    */
  def score(docs: DataFrame, counts: GraftTable): DataFrame =
    DsirScoring.score(docs, mergedCounts(counts))
}
