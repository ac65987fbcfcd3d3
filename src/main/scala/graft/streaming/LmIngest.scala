package graft.streaming

import graft.functions.LmScoring
import graft.tables.{GraftTable, TableDef}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming maintenance of the bigram-LM dictionaries — the serving
  * counterpart of `text_lm_score`'s in-query training, and the third
  * member of the streamed-index family (BM25 postings
  * [[PostingsIngest]], IVF cells [[VectorIngest]]).
  *
  * The whole design rests on one property: unigram and bigram counts
  * are PARTIAL AGGREGATES — counts from disjoint document sets add, and
  * a transition never spans documents. So dictionary maintenance is
  * append-only (each micro-batch lands its trusted-tier counts as new
  * rows, exactly-once via the sink marker) and the read-time merge is a
  * SUM — the same mergeable-partials story as the count-min and
  * histogram sketch sinks ([[Sinks.cmSketchAppend]]), with no upsert,
  * no read-modify-write, and O(batch vocab) write cost per batch
  * regardless of dictionary size. At 100 TB the dictionary tables get a
  * hash-bucket partition on the word and a compaction cadence that
  * pre-merges partials; the scoring join is unchanged.
  */
object LmIngest {

  /** Per-batch partial unigram counts; read-time SUM is the merge. */
  val unigramsDef: TableDef = TableDef("lm_unigrams",
    StructType(Seq(
      StructField("word", StringType),
      StructField("c1", LongType))))

  /** Per-batch partial bigram counts; read-time SUM is the merge. */
  val bigramsDef: TableDef = TableDef("lm_bigrams",
    StructType(Seq(
      StructField("w1", StringType),
      StructField("w2", StringType),
      StructField("c2", LongType))))

  /** `(doc_id, source, text)` stream → per-batch dictionary partials
    * from the trusted-tier docs. One tokenize per micro-batch feeds
    * both sinks (the statement-set discipline); a replayed batch is
    * dropped whole by each table's sink marker.
    */
  def dictionaryAppend(docs: DataFrame, uni: GraftTable, big: GraftTable,
      checkpoint: String): StreamingQuery =
    Sinks.start(docs, checkpoint) { (batch, batchId) =>
      val tok = LmScoring.trainSlice(LmScoring.tokenize(batch)).cache()
      try {
        Sinks.exactlyOnce(uni, "lmUniAppend", batchId) {
          uni.append(LmScoring.unigramCounts(tok))
        }
        Sinks.exactlyOnce(big, "lmBigAppend", batchId) {
          big.append(LmScoring.bigramCounts(tok))
        }
      } finally { tok.unpersist(); () }
    }

  /** The merged dictionaries (sum over the per-batch partials). */
  def mergedUnigrams(uni: GraftTable): DataFrame =
    uni.readLogical().groupBy(col("word")).agg(sum(col("c1")).as("c1"))

  def mergedBigrams(big: GraftTable): DataFrame =
    big.readLogical().groupBy(col("w1"), col("w2")).agg(sum(col("c2")).as("c2"))

  /** Maintenance cadence: pre-merge the per-batch partials so reads
    * stop re-summing history — replaces each dictionary's live
    * snapshot with its merged form (one row per key). Read-equivalent
    * before and after by construction (the merge IS the read
    * semantics); old snapshots stay time-travelable until expiry.
    */
  def compactDictionaries(uni: GraftTable, big: GraftTable): Unit = {
    uni.overwrite(mergedUnigrams(uni))
    big.overwrite(mergedBigrams(big))
  }

  /** Serve-side gate: score any doc set against the CURRENT streamed
    * dictionaries — identical math (and code) to the batch operator, so
    * streamed-trained == batch-trained is pinned row-for-row by
    * LmIngestSpec.
    */
  def score(docs: DataFrame, uni: GraftTable, big: GraftTable): DataFrame =
    LmScoring.score(LmScoring.tokenize(docs), mergedUnigrams(uni), mergedBigrams(big))
}
