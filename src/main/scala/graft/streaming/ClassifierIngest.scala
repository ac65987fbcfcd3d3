package graft.streaming

import graft.functions.ClassifierScoring
import graft.tables.{GraftTable, TableDef}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming maintenance of the quality-classifier dictionary — the
  * serving counterpart of `text_classifier_score`'s in-query training,
  * built on the same design as the LM dictionaries ([[LmIngest]]): the
  * `(word, c_all, c_tr)` row is a pair of ADDITIVE counts, so each
  * micro-batch lands its own partial as an exactly-once append, the
  * read-time merge is a SUM, arrival order provably cannot matter, and
  * a merge-compaction cadence collapses history without changing
  * reads. One table instead of the LM's two because both counters come
  * from the same word stream — the per-batch job is a single
  * map-side-combined aggregate over the batch's words.
  */
object ClassifierIngest {

  /** Per-batch partial dictionary; read-time SUM is the merge. */
  val dictDef: TableDef = TableDef("clf_dict",
    StructType(Seq(
      StructField("word", StringType),
      StructField("c_all", LongType),
      StructField("c_tr", LongType))))

  /** `(doc_id, source, text)` stream → per-batch dictionary partials.
    * A replayed batch is dropped whole by the sink marker.
    */
  def dictionaryAppend(docs: DataFrame, dict: GraftTable,
      checkpoint: String): StreamingQuery =
    Sinks.into(docs, dict, "clfDictAppend", checkpoint)(b =>
      dict.append(ClassifierScoring.dictionary(b)))

  /** The merged dictionary (sum over the per-batch partials). */
  def mergedDictionary(dict: GraftTable): DataFrame =
    dict.readLogical().groupBy(col("word"))
      .agg(sum(col("c_all")).as("c_all"), sum(col("c_tr")).as("c_tr"))

  /** Maintenance cadence: pre-merge partials to one row per word;
    * read-equivalent by construction (the merge IS the read semantics).
    */
  def compactDictionary(dict: GraftTable): Unit = {
    dict.overwrite(mergedDictionary(dict))
    ()
  }

  /** Serve-side gate: score any doc set against the CURRENT streamed
    * dictionary — identical math (and code) to the batch operator, so
    * streamed-trained == batch-trained is pinned row-for-row by
    * ClassifierIngestSpec. Fails LOUDLY on a cold/empty trusted tier:
    * with n_tr = 0 every ratio would divide by zero to NULL, and a
    * downstream `score < cut` gate would silently keep everything —
    * the one failure mode worse than no gate. The merged dictionary is
    * localCheckpoint-materialized ONCE and shared by the guard's sum,
    * the scoring totals, and the scoring join — without it each of the
    * three would re-run the full partial-merge groupBy.
    */
  def score(docs: DataFrame, dict: GraftTable): DataFrame = {
    val merged = mergedDictionary(dict).localCheckpoint()
    val nTr = merged.agg(sum(col("c_tr"))).first()
    require(!nTr.isNullAt(0) && nTr.getLong(0) > 0,
      "classifier dictionary has no trusted-tier counts yet - " +
        "scoring now would NULL every ratio and silently disable downstream gates")
    ClassifierScoring.score(docs, merged)
  }
}
