package graft.streaming

import graft.functions.DedupOps
import graft.tables.{GraftTable, IdentityTransform, TableDef}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** Streamed near-duplicate gate against the WHOLE historical corpus —
  * the scale-up of [[CorpusIngest]]'s in-flight dedup, which can only
  * see content inside its watermark window: arriving documents fold to
  * their B MinHash band keys (the same native signature pipeline the
  * batch `dedup_minhash_lsh` query uses — one shared [[DedupOps.bandKeys]]
  * body, so index and query can never band apart) and land exactly-once
  * in a band-partitioned bucket table. A new document then asks "have I
  * seen a near-dup EVER?" with one equi-join on (band, key) against the
  * index — per-probe cost is its B buckets' occupancy, never the
  * corpus. At 100 TB the band partitioning is what makes the index
  * maintainable: each band is an independent shard (compact, bucket,
  * or re-shard per band), and the probe join co-locates per band.
  *
  * The index stores band keys, not text: B×(key, doc_id) rows per doc,
  * immutable appends, no state in the stream itself.
  */
object NearDupIngest {

  val bandTableDef: TableDef = TableDef("lsh_bands",
    StructType(Seq(
      StructField("band", IntegerType),
      StructField("key", StringType),
      StructField("doc_id", LongType))),
    partitions = Seq(IdentityTransform("band")),
    keys = Seq("band", "key", "doc_id"))

  /** Fingerprint sidecar: each indexed doc's distinct shingle-hash set,
    * so a candidate from the band index can be VERIFIED (exact Jaccard)
    * without re-reading the historical text — the verify stage's input
    * at serving time. ~8 bytes per shingle; the price of turning the
    * candidate superset into true near-dups.
    */
  val fingerprintDef: TableDef = TableDef("doc_hv",
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("hv", ArrayType(LongType)))),
    keys = Seq("doc_id"))

  /** `(doc_id, text)` stream → band-key appends. Docs shorter than the
    * shingle width contribute no rows (they cannot near-dup by the
    * 3-shingle definition), matching the batch pipeline exactly.
    */
  def bandAppend(docs: DataFrame, table: GraftTable,
      checkpoint: String): StreamingQuery =
    Sinks.into(docs, table, "lshBandAppend", checkpoint)(b =>
      table.append(DedupOps.bandKeys(b)))

  /** Near-dup candidates for `newDocs` against everything indexed so
    * far: band the probes with the same shared body, equi-join on
    * (band, key), drop self-matches, distinct. Returns
    * (probe_id, cand_id) — feed the pairs to the usual Jaccard verify
    * stage ([[DedupOps.verifyPairs]] against the [[fingerprintDef]]
    * sidecar); LSH candidates are a superset of true near-dups by
    * construction, never a miss at the banding level.
    */
  def nearDupCandidates(table: GraftTable, newDocs: DataFrame): DataFrame =
    candidatesOfKeys(table,
      DedupOps.bandKeys(newDocs).withColumnRenamed("doc_id", "probe_id"))

  /** The probe join over pre-banded probe keys. Per (probe, band, key)
    * the candidates are capped at the [[DedupOps.BucketCap]] smallest
    * historical ids — the same bound (and the same deliberate recall
    * trade at adversarial occupancy) the batch pair expansion applies,
    * so one hot bucket can never make a single probe emit unbounded
    * pairs.
    */
  private[streaming] def candidatesOfKeys(table: GraftTable,
      probes: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    table.readLogical()
      .join(probes, Seq("band", "key"))
      .filter(col("doc_id") =!= col("probe_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("band"), col("key"), col("probe_id"))
          .orderBy(col("doc_id"))))
      .filter(col("rn") <= DedupOps.BucketCap)
      .select(col("probe_id"), col("doc_id").as("cand_id"))
      .distinct()
  }
}
