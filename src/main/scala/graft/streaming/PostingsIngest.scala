package graft.streaming

import graft.functions.SearchOps
import graft.tables.{BucketTransform, GraftTable, TableDef}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streaming maintenance of the BM25 inverted index — the serving-side
  * counterpart of `bm25_topk`'s raw-text scan, and the materialized
  * form its Scaladoc promises: documents arrive on a stream, each
  * microbatch tokenizes ONCE (the exact [[SearchOps.tokenize]] rules)
  * and lands exactly-once as postings `(term, doc_id, tf)` plus a
  * doc-length sidecar `(doc_id, dl)`. The postings table is
  * partitioned by a HASH BUCKET of the term ([[BucketTransform]] —
  * Iceberg's `bucket(n, term)`): vocabulary is unbounded, so an
  * identity partition would mint one directory per distinct term and
  * drown the filesystem in tiny files per micro-batch; 64 bucket
  * directories bound the layout at any vocabulary size. A BM25 query
  * computes its terms' buckets DRIVER-SIDE (the engine-portable hash
  * has a JVM twin) and opens ONLY those bucket directories — bounded
  * I/O per query term, never the corpus, the same partition-pruned
  * serving layout the IVF vector index uses for cells
  * ([[VectorIngest]]); the exact-term predicate still pushes down into
  * the pruned files' row groups.
  *
  * Corpus is append-only (the training-data regime: docs are added,
  * never edited); re-delivered batches are dropped whole by the sink
  * marker, so tf never double-counts.
  */
object PostingsIngest {

  /** Default bucket count when the corpus volume is unknown at table
    * creation — directories per micro-batch stay ≤ this at any
    * vocabulary (the layout bound the identity transform lacks).
    */
  val TermBuckets = 64

  /** Scale-adaptive bucket count from the corpus volume feeding the
    * index (guide §6: output layout sized from data, not a constant
    * tuned for one scale). Two bounds meet here:
    *
    *  - per-term serve IO opens ~postingsBytes / buckets per query
    *    term, so buckets grows linearly with volume
    *    (one bucket per [[BucketTargetBytes]] of corpus);
    *  - per-micro-batch APPEND writes one file per touched bucket dir,
    *    so tiny corpora must not pay a 64-dir fan-out for KBs of
    *    postings — the floor of 8 keeps multi-bucket pruning
    *    exercised, the 4096 cap keeps the directory count (and the
    *    per-batch task fan-out) bounded at warehouse scale.
    *
    * Power of two so re-bucketing a growing table is a local split.
    * The count is fixed PER TABLE at creation (the transform rides the
    * commit log); serving reads the table's own spec (see
    * [[bm25TopK]]), so layout and pruning cannot drift.
    */
  val BucketTargetBytes: Long = 32L << 20
  def bucketsForVolume(corpusBytes: Long): Int = {
    val want = math.max(1L, corpusBytes / BucketTargetBytes)
    val pow2 = java.lang.Long.highestOneBit(math.min(want, 4096L))
    math.max(8L, if (pow2 < want) pow2 * 2 else pow2).toInt.min(4096)
  }

  private val termBucket = BucketTransform("term", TermBuckets)

  /** Postings table def with a caller-sized bucket count (twins size it
    * from the staged corpus volume; [[postingsDef]] keeps the default).
    */
  def postingsDefWith(buckets: Int): TableDef = TableDef("postings",
    StructType(Seq(
      StructField("term", StringType),
      StructField("doc_id", LongType),
      StructField("tf", LongType))),
    partitions = Seq(BucketTransform("term", buckets)),
    keys = Seq("term", "doc_id"))

  val postingsDef: TableDef = postingsDefWith(TermBuckets)

  /** Driver-side bucket of a literal query term — the pruning key. */
  def bucketOf(term: String): Long = termBucket.bucketOf(term)

  val docStatsDef: TableDef = TableDef("doc_stats",
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("dl", LongType))),
    keys = Seq("doc_id"))

  /** The doc-length column (token count under the shared tokenizer;
    * null text → 0) — one definition for every sink that writes the
    * sidecar.
    */
  private[streaming] def dlCol: org.apache.spark.sql.Column =
    size(filter(split(lower(coalesce(col("text"), lit(""))), "[^a-z]+"),
      t => length(t) >= 3)).cast("long").as("dl")

  /** `(doc_id, text)` stream → postings + doc-stats appends. Every doc
    * gets a doc_stats row even when it tokenizes to nothing (dl = 0):
    * the corpus size N that BM25's idf needs is `count(doc_stats)`, and
    * an empty doc is still a corpus member.
    */
  def indexAppend(docs: DataFrame, postings: GraftTable, docStats: GraftTable,
      checkpoint: String): StreamingQuery =
    Sinks.start(docs, checkpoint) { (batch, batchId) =>
      // two tables, one marker each: a retry after a crash between the
      // two commits skips the already-marked table and lands the other
      Sinks.exactlyOnce(postings, "postingsAppend", batchId) {
        postings.append(
          SearchOps.tokenize(batch)
            .groupBy(col("term"), col("doc_id"))
            .agg(count(lit(1)).as("tf")))
      }
      Sinks.exactlyOnce(docStats, "docStatsAppend", batchId) {
        docStats.append(batch.select(col("doc_id"), dlCol))
      }
    }

  /** The corpus statement-set: ONE streamed pass over arriving
    * documents maintains ALL the lexical corpus indexes — postings,
    * doc-length sidecar, and the count-min term-frequency sketch — from
    * a single tokenize per micro-batch. The per-batch (term, doc_id,
    * tf) aggregate persists and fans out: postings append it verbatim,
    * CM cells derive from its per-term totals (no second tokenize), and
    * only the dl sidecar re-reads the (persisted) batch because it
    * needs token-less docs too. One exactly-once marker PER table, so a
    * crash mid-fan-out replays into fills, never double-appends — the
    * same X1 discipline as [[Sinks.multiSinkFanout]]. At 100 TB this is
    * the difference between reading the firehose once and reading it
    * once per index.
    *
    * Sink ids are DISTINCT from [[indexAppend]]'s: batch ids are
    * per-streaming-query counters, so two job shapes sharing a marker
    * namespace on the same table would silently skip every batch of
    * the newer query until its counter passes the older one's
    * high-water mark. One table, one job shape, ever.
    */
  def corpusIndexFanout(docs: DataFrame, postings: GraftTable,
      docStats: GraftTable, cmTable: GraftTable,
      checkpoint: String): StreamingQuery =
    Sinks.start(docs, checkpoint) { (batch, batchId) =>
      val tfB = SearchOps.tokenize(batch)
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
        .persist()
      try {
        Sinks.exactlyOnce(postings, "fanout.postings", batchId) {
          postings.append(tfB)
        }
        Sinks.exactlyOnce(cmTable, "fanout.cm", batchId) {
          cmTable.append(graft.functions.SketchOps.cmCellsOfTermCounts(
            tfB.groupBy(col("term")).agg(sum(col("tf")).as("n"))))
        }
        Sinks.exactlyOnce(docStats, "fanout.docStats", batchId) {
          docStats.append(batch.select(col("doc_id"), dlCol))
        }
      } finally { tfB.unpersist(); () }
    }

  /** BM25 top-k over the maintained index: the query terms' buckets
    * (computed driver-side — no Spark job) prune the postings read to
    * those bucket DIRECTORIES, the exact-term predicate then pushes
    * down into the surviving files' row groups
    * (PostingsIngestSpec pins the pruning), the corpus totals come
    * from the KB-sized sidecar, and ranking goes through the SAME
    * [[SearchOps.bm25Rank]] body as the raw-text query, so serving can
    * never drift from the oracle-checked math.
    */
  def bm25TopK(postings: GraftTable, docStats: GraftTable,
      terms: Seq[String], k: Int): DataFrame = {
    // pruning key comes from the TABLE's own partition spec, so a
    // volume-sized bucket count (bucketsForVolume) and the serve path
    // can never disagree on the layout
    val bt = postings.currentPartitions
      .collectFirst { case b: BucketTransform if b.source == "term" => b }
      .getOrElse(termBucket)
    val buckets = terms.map(bt.bucketOf).distinct
    val tf = postings.read()
      .filter(col(bt.name).isin(buckets: _*) &&
        col("term").isin(terms: _*))
      .select(col("doc_id"), col("term"), col("tf"))
    val stats = docStats.readLogical()
    val dl = stats.select(col("doc_id"), col("dl"))
    val tot = stats.agg(count(lit(1)).as("nn"), sum(col("dl")).as("ll"))
    SearchOps.bm25Rank(tf, dl, tot, k)
  }
}
