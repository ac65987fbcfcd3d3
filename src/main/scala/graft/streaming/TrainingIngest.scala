package graft.streaming

import graft.functions.{DedupOps, SearchOps, SketchOps}
import graft.tables.GraftTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The end-to-end training-data ingest pipeline as ONE streaming job —
  * the composition the individual pieces exist for:
  *
  *   arriving docs
  *     → quality gate   ([[CorpusIngest.enrich]]'s integer rules)
  *     → near-dup gate  (LSH candidates from the streamed band index,
  *                       VERIFIED by exact Jaccard ≥ 0.5 against the
  *                       fingerprint sidecar — candidates alone are a
  *                       superset, and dropping on them would leak a
  *                       few percent of genuinely novel docs; the
  *                       verify bar is the same one the oracle-checked
  *                       `dedup_ngram_jaccard` pins)
  *     → index fan-out  (band index + fingerprints + postings +
  *                       doc-length sidecar + CM sketch, from one
  *                       tokenize / one hashed-shingle pass of the
  *                       survivors)
  *
  * Within a batch, verified near-dup EDGES resolve by connected
  * components (the `dedup_clusters` rule): each cluster keeps its
  * lowest id. A doc dropped by the historical gate is excluded from
  * the within-batch graph FIRST, so it cannot drag down a batch
  * sibling whose only near-dup it was.
  *
  * Replay determinism: the historical probe excludes the batch's own
  * doc ids, so a partial-commit replay (band/fingerprint appends
  * committed, later sinks not) sees exactly the pre-batch index state
  * and keeps the identical survivor set. Corpus ids are append-only-
  * unique, the standing ingestion contract. Sink ids are unique to
  * this job shape — batch ids are per-query counters, so sharing a
  * marker namespace with another job on the same table would silently
  * skip batches.
  */
object TrainingIngest {

  /** Survivors of the two gates for one micro-batch, given the
    * PRE-batch band index and fingerprint sidecar. Pure — no writes.
    * Returns (kept docs, kept hashed-shingle fingerprints).
    */
  private[streaming] def surviving(batch: DataFrame, bands: GraftTable,
      fingerprints: GraftTable): (DataFrame, DataFrame) = {
    val clean = CorpusIngest.enrich(batch)
      .filter(col("reject_reason").isNull)
      .select(col("doc_id"), col("text"))
    // ONE hashed-shingle materialization feeds the probe keys, both
    // verify sides, the within-batch pairs, and the fingerprint append
    // (docs under 3 words have no shingles — they cannot near-dup and
    // pass the gate untouched)
    val hv = DedupOps.hashedShingles(clean).localCheckpoint()
    val bk = DedupOps.bandKeysOfHv(hv).localCheckpoint()
    val ids = clean.select(col("doc_id").as("cand_id"))

    // historical gate: capped candidates vs the index (minus this
    // batch's own ids — replay), verified against the fingerprint table
    val histCand = NearDupIngest.candidatesOfKeys(bands,
        bk.withColumnRenamed("doc_id", "probe_id"))
      .join(broadcast(ids), Seq("cand_id"), "left_anti")
    val histDrop = DedupOps.verifyPairs(
        histCand.select(col("probe_id").as("doc_a"), col("cand_id").as("doc_b")),
        hv, fingerprints.readLogical())
      .select(col("doc_a").as("doc_id")).distinct()
    val h = clean.join(histDrop, Seq("doc_id"), "left_anti")

    // within-batch gate over the historical survivors only: capped
    // bucket-local pairs, verified, then connected components keep the
    // lowest id per near-dup cluster
    val bkH = bk.join(h.select("doc_id"), Seq("doc_id"), "left_semi")
    val edges = DedupOps.verifyPairs(DedupOps.bandPairsOfKeys(bkH), hv, hv)
    val withinDrop = DedupOps.connectedComponents(edges)
      .filter(col("cluster_id") =!= col("doc_id"))
      .select(col("doc_id"))
    val kept = h.join(withinDrop, Seq("doc_id"), "left_anti")
    (kept, hv.join(kept.select("doc_id"), Seq("doc_id"), "left_semi"))
  }

  def run(docs: DataFrame, bands: GraftTable, fingerprints: GraftTable,
      postings: GraftTable, docStats: GraftTable, cmTable: GraftTable,
      checkpoint: String): StreamingQuery =
    Sinks.start(docs, checkpoint) { (batch, batchId) =>
      // survivors pinned BEFORE any append commits: the gates read
      // the band/fingerprint tables, so the later sinks must not
      // re-evaluate them against a post-append snapshot
      val (keptLazy, keptHvLazy) = surviving(batch, bands, fingerprints)
      val kept = keptLazy.localCheckpoint()
      val keptHv = keptHvLazy.localCheckpoint()
      val tfB = SearchOps.tokenize(kept)
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
        .persist()
      try {
        Sinks.exactlyOnce(bands, "ingest.bands", batchId) {
          bands.append(DedupOps.bandKeysOfHv(keptHv))
        }
        Sinks.exactlyOnce(fingerprints, "ingest.fingerprints", batchId) {
          fingerprints.append(keptHv)
        }
        Sinks.exactlyOnce(postings, "ingest.postings", batchId) {
          postings.append(tfB)
        }
        Sinks.exactlyOnce(cmTable, "ingest.cm", batchId) {
          cmTable.append(SketchOps.cmCellsOfTermCounts(
            tfB.groupBy(col("term")).agg(sum(col("tf")).as("n"))))
        }
        Sinks.exactlyOnce(docStats, "ingest.docStats", batchId) {
          docStats.append(kept.select(col("doc_id"), PostingsIngest.dlCol))
        }
      } finally { tfB.unpersist(); () }
    }
}
