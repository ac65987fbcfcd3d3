package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native [[NearestCell]] must pick the same cell as the aggregate
  * fold it replaces — BIT-identical cosine arithmetic, same tie-break.
  */
class NearestCellSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def native(emb: Column, cents: Column): Column =
    GraftSqlBridge.column(NearestCell(
      GraftSqlBridge.expression(emb), GraftSqlBridge.expression(cents)))

  /** The reference fold: the higher-order form the native kernel
    * replaces (needs a `nrm` column on the row).
    */
  private def fold(emb: Column, cents: Column, nrm: Column): Column =
    aggregate(cents,
      struct(lit(Double.NegativeInfinity).as("cs"), lit(-1L).as("cell")),
      (acc, c) => {
        val cs = AnnOps.dot(emb, c.getField("c_emb")) /
          (nrm * c.getField("c_nrm"))
        when(cs > acc.getField("cs"),
          struct(cs.as("cs"), c.getField("cid").as("cell"))).otherwise(acc)
      }).getField("cell")

  test("native cell equals the fold cell on every sf0.001 vector") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .withColumn("nrm", sqrt(AnnOps.dot(col("embedding"), col("embedding"))))
    val cent = AnnOps.centroids(e)
    val centsRow = cent.groupBy()
      .agg(sort_array(collect_list(struct(col("cid"), col("c_emb"), col("c_nrm"))))
        .as("cents"))
    val rows = e.crossJoin(broadcast(centsRow))
      .select(col("vec_id"),
        fold(col("embedding"), col("cents"), col("nrm")).as("f"),
        native(col("embedding"), col("cents")).as("n"))
      .collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"vec ${r.getLong(0)}: fold=${r.getLong(1)} native=${r.getLong(2)}")
    }
  }

  test("zero-norm embedding and empty centroid list give null, not cid -1") {
    // nrm 0 makes every cosine NaN (no candidate wins); an empty cents
    // array never enters the loop — both must surface as NULL rather
    // than assigning the vector to a nonexistent cell
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .withColumn("nrm", sqrt(AnnOps.dot(col("embedding"), col("embedding"))))
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val centsRow = AnnOps.centroids(e).groupBy()
      .agg(sort_array(collect_list(struct(col("cid"), col("c_emb"), col("c_nrm"))))
        .as("cents"))
    val zero = Seq((1L, Seq.fill(dim)(0.0f))).toDF("vec_id", "embedding")
      .crossJoin(broadcast(centsRow))
      .select(native(col("embedding"), col("cents")).as("n"))
    assert(zero.collect().head.isNullAt(0), "zero-norm must be null")
    val empty = e.limit(1)
      .crossJoin(broadcast(centsRow))
      .select(native(col("embedding"), slice(col("cents"), 1, 0)).as("n"))
    assert(empty.collect().head.isNullAt(0), "empty cents must be null")
  }
}
