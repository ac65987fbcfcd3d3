package graft.streaming

import graft.functions.TemperatureSampling
import graft.tables.{GraftTable, TableDef}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming maintenance of the temperature-sampling rates — the
  * serving counterpart of `sample_temperature`'s in-query counting,
  * and the smallest member of the streamed-dictionary family
  * ([[LmIngest]], [[ClassifierIngest]]): the per-language document
  * count is an ADDITIVE partial, so each micro-batch lands its own
  * `(lang, n_lang)` row as an exactly-once append, the read-time
  * merge is a SUM, and the threshold derivation over the merged
  * counts is the SAME code the batch operator runs — so the gate a
  * serving layer applies to arriving documents is provably the batch
  * gate. Rates drift as the corpus grows; a deployment pins them per
  * release by snapshotting the threshold table, which the snapshot-log
  * storage gives for free (time-travel the counts table).
  */
object TemperatureIngest {

  /** Per-batch partial language counts; read-time SUM is the merge. */
  val countsDef: TableDef = TableDef("lang_counts",
    StructType(Seq(
      StructField("lang", StringType),
      StructField("n_lang", LongType))))

  /** `(doc_id, lang, …)` stream → per-batch count partials. */
  def countsAppend(docs: DataFrame, counts: GraftTable,
      checkpoint: String): StreamingQuery =
    Sinks.into(docs, counts, "tempCountsAppend", checkpoint)(b =>
      counts.append(b.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))))

  /** The merged counts (sum over the per-batch partials). */
  def mergedCounts(counts: GraftTable): DataFrame =
    counts.readLogical().groupBy(col("lang"))
      .agg(sum(col("n_lang")).as("n_lang"))

  /** Current thresholds from the streamed counts — the shared
    * derivation, so streamed == batch by construction. The merged
    * counts are localCheckpoint-materialized once: the derivation
    * references them twice (under the min and as the join side), and
    * without it each reference re-reads the whole partial history.
    */
  def thresholds(counts: GraftTable): DataFrame =
    TemperatureSampling.thresholds(mergedCounts(counts).localCheckpoint())

  /** Apply the current gate to any document set. Fails LOUDLY on a
    * cold/empty counts table — every language would fall to the
    * unknown-language keep-whole default and the sample would silently
    * stop sampling (the [[ClassifierIngest]] guard discipline).
    */
  def sample(docs: DataFrame, counts: GraftTable): DataFrame = {
    val th = thresholds(counts)
    require(!th.isEmpty,
      "temperature counts table is empty - sampling now would keep every " +
        "document at the unknown-language default instead of the derived rates")
    TemperatureSampling.gate(docs, th)
  }
}
