package graft.streaming

import graft.functions.DedupOps
import graft.tables.{GraftTable, IdentityTransform, TableDef}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streamed exact-substring gate — the continuous form of the batch
  * `dedup_substring_cut`: arriving documents are checked for W-word
  * windows already seen ANYWHERE in the ingested corpus, their cut
  * statistics (surviving word count + rebuilt-text fingerprint) land in
  * an append-only stats table, and the windows they contribute first
  * are appended to a shard-partitioned hash index.
  *
  * Keep-first is the arrival order: a window occurrence is redundant if
  * its hash is already in the index (an earlier batch saw it) or an
  * earlier occurrence exists in the same batch (packed (doc_id, pos)
  * ordering — the identical rule the batch operator applies, via the
  * shared [[DedupOps.substringCutStats]] tail). With doc ids assigned
  * in arrival order — the standing ingestion contract — the streamed
  * stats are row-identical to running the batch operator over the whole
  * corpus at once, which is what the spec pins. Keep-first also makes
  * every stats row FINAL at emit time: later arrivals can never change
  * an earlier document's cut, so the stats table is append-only with no
  * repair pass.
  *
  * Scale shape:
  *  - the index stores (shard, h, first_doc_id) — 20 bytes per distinct
  *    window, no text; shards are independent maintenance units
  *    (compact/expire per shard) and the probe join co-locates on them;
  *  - per batch, the only thing that MOVES is the batch's distinct-hash
  *    set (broadcast); the index is scanned in place, never shuffled.
  *    At 100 TB the scan is the cost to beat, and it is worth being
  *    honest about the options: a Bloom sidecar (per shard or per file)
  *    only skips units NONE of the batch's hashes might touch, and with
  *    uniform hashing a realistic batch (≥10⁵ distinct windows) hits
  *    every shard and almost every file with near certainty — bloom
  *    pruning saturates and degenerates to the full scan. The shapes
  *    that actually bound it: (a) keep micro-batches small enough that
  *    per-FILE blooms stay unsaturated (ingestion-rate knob, not an
  *    engine change — the (shard, h) layout is already what that needs);
  *    (b) a point-lookup membership store beside the lake for the gate
  *    alone (outside Spark's execution model, deliberately out of
  *    scope). What the engine owns — scan units sized by the shard
  *    count, per-shard independent compaction, broadcast-only probe —
  *    is already in place;
  *  - everything after the probe is batch-local and bounded exactly as
  *    the batch operator bounds it (≤W covered positions per redundant
  *    window, doc-local reconstruction).
  *
  * Replay: the gate reads the index MINUS rows first contributed by
  * this batch's own doc ids, so a replay of a batch whose index append
  * already committed (a fully-committed batch re-fired from a fresh
  * checkpoint) recomputes against the pre-batch index state and emits
  * identical rows — same discipline as [[TrainingIngest]]'s historical
  * probe. See [[run]] for the commit-order story.
  */
object SubstringIngest {

  /** Index shard count. A deployment sizes this to its maintenance
    * granularity (shards compact independently); probes touch every
    * shard regardless — uniform hashing means a batch's windows spread
    * across all of them — so the count trades file-size against
    * parallelism, not probe cost.
    */
  val NShards = 32

  val windowIndexDef: TableDef = TableDef("substr_windows",
    StructType(Seq(
      StructField("shard", IntegerType),
      StructField("h", LongType),
      StructField("first_doc_id", LongType))),
    partitions = Seq(IdentityTransform("shard")),
    keys = Seq("shard", "h"))

  val cutStatsDef: TableDef = TableDef("substr_cut_stats",
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_words", LongType),
      StructField("n_words_kept", LongType),
      StructField("cut_text_hash", StringType),
      StructField("is_modified", BooleanType))))

  /** One micro-batch through the gate against the PRE-batch index.
    * Returns (cut stats rows, new index rows, the pinned frame the
    * caller unpersists after both sinks commit).
    *
    * Per-batch cost shape: the batch's window occurrences cross the
    * wire exactly ONCE — a single hash-partition on `h` whose
    * whole-partition window-min marks each occurrence's in-batch
    * keep-first winner in place (the former shape shuffled the
    * occurrence set three times: a `distinct` for the probe broadcast,
    * a `groupBy(h).min`, and the re-join of the two — and then wrote
    * every occurrence row to local checkpoint storage; this one pins
    * the marked frame in executor MEMORY instead). The min occurrence
    * of each hash doubles as the batch's distinct-hash row, so the
    * probe set falls out of the same pass. `histHit` — the index∩batch
    * hash set — IS eagerly localCheckpointed: it is h-level and small
    * (⊆ the batch's distinct hashes, the bound the probe broadcast
    * already relies on), and pinning it keeps the index scanned once
    * per batch even though two sink actions consume it downstream.
    */
  private[streaming] def gate(batch: DataFrame, index: GraftTable,
      w: Int): (DataFrame, DataFrame, DataFrame) = {
    val ww = DedupOps.splitDocs(batch)
    val byH = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val marked = DedupOps.windowHashes(ww, w)
      .withColumn("packed", DedupOps.packedPos)
      .withColumn("keep_packed", min(col("packed")).over(byH))
      .persist()
    // `marked` ownership transfers to the caller only on a successful
    // return; the histHit localCheckpoint below is an eager action, so
    // a failure there must unpersist here or the partially-cached frame
    // leaks for the session's life (the caller's finally never sees it)
    try {
      // one row per distinct batch hash: the in-batch keep-first winner
      // ((doc_id, pos) packing makes the min unique per hash)
      val firsts = marked.filter(col("packed") === col("keep_packed"))
        .select(col("h"), col("doc_id"))
      val ids = batch.select(col("doc_id").as("first_doc_id"))
      // historical hit set: index hashes that match this batch, excluding
      // rows this batch itself first contributed (replay) — the batch's
      // distinct hashes broadcast, the index never shuffles
      val histHit = index.readLogical()
        .join(broadcast(ids), Seq("first_doc_id"), "left_anti")
        .join(broadcast(firsts.select("h")), Seq("h"), "left_semi")
        .select(col("h")).distinct()
        .localCheckpoint()
      val hist = broadcast(histHit.withColumn("in_hist", lit(true)))
      val redundant = marked
        .join(hist, Seq("h"), "left")
        .filter(col("in_hist").isNotNull || col("packed") =!= col("keep_packed"))
        .select(col("doc_id"), col("pos"))
      val stats = DedupOps.substringCutStats(ww, redundant, w)
      val newRows = firsts
        .join(hist, Seq("h"), "left")
        .filter(col("in_hist").isNull)
        .select(pmod(col("h"), lit(NShards.toLong)).cast(IntegerType).as("shard"),
          col("h"), col("doc_id").as("first_doc_id"))
      (stats, newRows, marked)
    } catch {
      case t: Throwable =>
        marked.unpersist()
        throw t
    }
  }

  /** `(doc_id, text)` stream → cut-stats + window-index appends,
    * exactly-once per sink. [[gate]] pins the probe result before
    * either append commits, so both sinks observe the same pre-batch
    * index state regardless of commit interleaving: stats commits
    * FIRST, so the only reachable partial-commit state is (stats
    * committed, index not) — a replay then recomputes against the
    * still-pre-batch index, skips stats by its marker, and appends the
    * identical index rows. The gate's first_doc_id anti-join exists for
    * the OTHER replay class: a fully-committed batch replayed from a
    * fresh checkpoint recomputes with its own rows already indexed, and
    * must not see them as history.
    */
  def run(docs: DataFrame, index: GraftTable, stats: GraftTable,
      checkpoint: String, w: Int = DedupOps.SubstringW): StreamingQuery =
    Sinks.start(docs, checkpoint) { (batch, batchId) =>
      // gate() unpersists its own marked frame if its eager action
      // fails; once it returns, the frame is this body's to drop
      val (statsDf, newRows, pinned) = gate(batch, index, w)
      try {
        Sinks.exactlyOnce(stats, "substr.stats", batchId) {
          stats.append(statsDf)
        }
        Sinks.exactlyOnce(index, "substr.index", batchId) {
          index.append(newRows)
        }
      } finally {
        // the gate's marked frame is batch-scoped: without the drop a
        // long-running stream accumulates one pinned occurrence set
        // per micro-batch
        pinned.unpersist(); ()
      }
    }
}
