package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native [[PqCodes]] must be BIT-identical to the zip_with/
  * aggregate argmin fold it replaces (which shares its arithmetic with
  * the DuckDB oracle) — a physical swap only, same argmin winner per
  * subspace even at float-noise-level ties.
  */
class PqCodesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def native(emb: Column, cball: Column): Column =
    GraftSqlBridge.column(PqCodes(
      GraftSqlBridge.expression(emb), GraftSqlBridge.expression(cball)))

  /** The reference fold: the zip_with/aggregate form the native kernel
    * replaces, inlined so both forms run in one plan.
    */
  private def fold(emb: Column, cball: Column): Column = {
    val nrm = sqrt(AnnOps.dot(emb, emb))
    val msubs = transform(
      transform(sequence(lit(0), lit(AnnOps.PqM - 1)), m =>
        transform(slice(emb, m * AnnOps.PqSub + 1, lit(AnnOps.PqSub)),
          x => x.cast("double") / nrm)),
      sv => struct(sv.as("sv"), AnnOps.dot(sv, sv).as("s2")))
    zip_with(msubs, cball, (s, cands) =>
      aggregate(cands,
        struct(lit(Double.MaxValue).as("d2"), lit(0).as("cid")),
        (acc, c) => {
          val d2 = s.getField("s2") + c.getField("c2") -
            lit(2.0) * AnnOps.dot(s.getField("sv"), c.getField("cvec"))
          when(d2 < acc.getField("d2"),
            struct(d2.as("d2"), c.getField("cid").as("cid")))
            .otherwise(acc)
        }).getField("cid"))
  }

  test("native codes equal the fold codes on every sf0.001 vector") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val cbArr = AnnOps.pqCodebookArr(AnnOps.pqCodebook(e))
    val rows = e.crossJoin(broadcast(cbArr))
      .select(col("vec_id"),
        fold(col("embedding"), col("cball")).as("f"),
        native(col("embedding"), col("cball")).as("n"))
      .collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"vec ${r.getLong(0)}: fold=${r.getSeq[Int](1)} native=${r.getSeq[Int](2)}")
    }
  }

  test("null embedding gives null codes") {
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val cbArr = AnnOps.pqCodebookArr(AnnOps.pqCodebook(e))
    val df = Seq((1L, null: Seq[Float])).toDF("vec_id", "embedding")
      .crossJoin(broadcast(cbArr))
      .select(native(col("embedding"), col("cball")).as("n"))
    assert(df.collect().head.isNullAt(0))
  }

  test("zero-norm embedding gives null codes, not the cid-0 sentinel") {
    // nrm 0 makes every subvector NaN and every d2 NaN; no candidate
    // ever wins, and emitting code 0 would silently index the ADC LUT
    import spark.implicits._
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val cbArr = AnnOps.pqCodebookArr(AnnOps.pqCodebook(e))
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val df = Seq((1L, Seq.fill(dim)(0.0f))).toDF("vec_id", "embedding")
      .crossJoin(broadcast(cbArr))
      .select(native(col("embedding"), col("cball")).as("n"))
    assert(df.collect().head.isNullAt(0))
  }
}
