package graft.plans

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The extension-installed optimizer rule must rewrite the declarative
  * zip_with/aggregate dot-product fold into the native expression — and
  * ONLY that shape.
  */
class NativeDotRewriteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def fold(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  private def hasNativeDot(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .expressions.exists(_.exists(_.isInstanceOf[graft.functions.DotProduct]))

  test("the fold idiom over float arrays is rewritten to the native expression") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val df = e.select(fold(col("embedding"), col("embedding")).as("d"))
    assert(hasNativeDot(df), "optimized plan should contain DotProduct")
    // and the rewritten plan computes the same values as the explicit fold
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.NativeDotRewrite")
    try {
      val off = e.select(fold(col("embedding"), col("embedding")).as("d"))
      assert(!hasNativeDot(off), "rule must respect the disable conf")
      val rewritten = df.collect().map(_.getDouble(0))
      val interpreted = off.collect().map(_.getDouble(0))
      assert(rewritten.sameElements(interpreted))
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("non-dot folds are left alone") {
    import spark.implicits._
    val df = Seq((Seq(1, 2), Seq(3, 4))).toDF("a", "b")
    // integer arrays: sum is exact but the native expression only takes
    // float/double arrays — must NOT rewrite
    val ints = df.select(aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x).as("d"))
    assert(!hasNativeDot(ints))
    assert(ints.collect().head.getDouble(0) == 11.0)
    // sum-of-elements (no zip_with): must NOT rewrite
    val sums = df.select(aggregate(col("a"),
      lit(0.0), (acc, x) => acc + x).as("s"))
    assert(!hasNativeDot(sums))
  }

  test("uncast float folds are NOT rewritten — they multiply in float precision") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // no .cast("double") on the lambda vars: each product rounds to
    // FLOAT, which DotProduct's widen-then-multiply would not reproduce
    val uncast = e.select(aggregate(
      zip_with(col("embedding"), col("embedding"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x).as("d"))
    assert(!hasNativeDot(uncast))
  }
}
