package graft.streaming

import graft.functions.AnnOps
import graft.tables.GraftTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of the IVF vector index — the serving-side
  * counterpart of `ann_ivf_topk`'s one-shot build: vectors arrive on a
  * stream, each is assigned to its nearest codebook cell with the same
  * scan-local native fold (a pure map over the broadcast centroid row —
  * no shuffle, no state), and lands exactly-once in a table
  * identity-partitioned by cell. Queries then open only their `nprobe`
  * probed cells' partition DIRECTORIES — the partition-pruned ANN
  * serving layout: at 100 TB each cell is a shard, new vectors flow
  * into shards continuously, and a query's I/O is bounded by occupancy
  * of the cells it probes, never the corpus.
  *
  * The codebook is FROZEN for the life of the index (the production
  * pattern — retrain offline, build the successor index, cut over);
  * that is what keeps ingestion stateless and the assignment
  * deterministic across retries.
  */
object VectorIngest {

  /** The canonical cell-partitioned index layout (one directory per
    * cell — the partition-pruned serving seam).
    */
  val indexDef: graft.tables.TableDef = graft.tables.TableDef("vec_index",
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
      org.apache.spark.sql.types.StructField("nrm",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("cell",
        org.apache.spark.sql.types.LongType))),
    partitions = Seq(graft.tables.IdentityTransform("cell")))

  /** (vec_id, embedding) stream → (vec_id, embedding, nrm, cell) rows
    * appended into `table` (declared with `IdentityTransform("cell")`).
    */
  def cellAppend(vectors: DataFrame, codebook: DataFrame, table: GraftTable,
      checkpoint: String): StreamingQuery = {
    // the codebook is FROZEN for the index's lifetime, so its
    // single-row broadcast form is materialized ONCE here — not
    // re-aggregated as a fresh Spark job inside every micro-batch
    val centArr = AnnOps.centroidArr(codebook).localCheckpoint()
    Sinks.into(vectors, table, "vectorCellAppend", checkpoint) { b =>
      val e = b.withColumn("nrm", sqrt(AnnOps.dot(col("embedding"), col("embedding"))))
      table.append(e.crossJoin(broadcast(centArr))
        .select(col("vec_id"), col("embedding"), col("nrm"), AnnOps.cellFold.as("cell")))
    }
  }

  /** Cosine top-k over the streamed index: score queries against the
    * codebook (queries × cells — tiny), pick `nprobe` cells each, read
    * ONLY those cells' partitions (the probed-cell list is a handful of
    * ints, so it collects to a literal `isin` filter that prunes at the
    * directory level — `df.inputFiles` proves it), and rank candidates.
    * Matches `ann_ivf_topk` semantics: self-matches excluded, ties on
    * (sim, vec_id).
    */
  def probeTopK(table: GraftTable, queryVecs: DataFrame, codebook: DataFrame,
      nprobe: Int, k: Int): DataFrame = {
    val q = queryVecs
      .withColumn("q_nrm", sqrt(AnnOps.dot(col("embedding"), col("embedding"))))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("q_nrm"))
    // localCheckpoint: the probe set feeds BOTH the collected cell
    // filter and the candidate join — left lazy, the query×codebook
    // scoring would run twice (and a non-deterministic query source
    // could even disagree between the two evaluations)
    val probes = q.crossJoin(broadcast(codebook))
      .withColumn("csim",
        AnnOps.dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("csim").desc, col("cid"))))
      .filter(col("crn") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("q_nrm"), col("cid").as("cell"))
      .localCheckpoint()
    val probedCells = probes.select("cell").distinct()
      .collect().map(_.getLong(0)).toSeq
    val cand = table.read()
      .filter(col("p_cell").isin(probedCells: _*))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim",
        AnnOps.dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("nrm")))
    cand
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("vec_id"),
        round(col("sim"), 6).as("cos_sim"))
  }

  /** The retrain cut-over: build the SUCCESSOR index from the live one
    * under a new (retrained) codebook. One linear pass — read the old
    * index's rows, re-assign each vector against the broadcast new
    * codebook (same pure-map fold ingestion uses), append into the
    * successor table's cell partitions — then the serving side flips
    * tables; the old index keeps serving until the flip, which is what
    * the frozen-codebook ingestion contract is FOR. The embeddings and
    * norms are already in the index (no re-read of the source corpus,
    * no re-normalization), so a 100 TB rebuild is one shuffle-free scan
    * of the index itself writing hash-distributed cell files.
    */
  def rebuildIndex(old: GraftTable, successor: GraftTable,
      newCodebook: DataFrame): Unit = {
    val e = old.readLogical().select(col("vec_id"), col("embedding"), col("nrm"))
    successor.append(
      e.crossJoin(broadcast(AnnOps.centroidArr(newCodebook)))
        .select(col("vec_id"), col("embedding"), col("nrm"),
          AnnOps.cellFold.as("cell")))
  }
}
