package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** The streaming jobs cycle through a few hundred generated classes per
  * run; with Spark's 100-entry codegen cache each micro-batch recompiles
  * classes the previous one compiled. GraftSession sizes the cache above
  * that working set, so a class generated once is not compiled again
  * after a hundred others have been generated since.
  */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // one distinct generated class per i: the literal is inlined in the code
  private def project(i: Int) =
    GenerateUnsafeProjection.generate(
      Seq(Add(BoundReference(0, LongType, nullable = false), Literal(i.toLong))))

  test("a class generated before 200 others is served from the cache, not recompiled") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    // twice Spark's default size, so every segment of its LRU overflows
    (0 until 200).foreach(project)
    val filled = compiles.getCount
    project(0)
    assert(compiles.getCount == filled, "the first projection was compiled again")
  }
}
