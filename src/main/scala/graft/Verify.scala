package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare
  * (tools/compare_oracle.py).
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [q1,q2,...]. The optional
  * list dumps ONLY the named queries (and restricts oracle_sql.json to
  * them), so tools/compare_oracle.py checks just those — a full run
  * takes minutes, the wrong inner loop when developing one operator.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.lift(2).map(_.split(",").toSet)
    val unknown = only.getOrElse(Set.empty).filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[verify] unknown query: ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    def kept[V](m: Map[String, V]) = m.toSeq.filter { case (name, _) => only.forall(_(name)) }
    val queries = kept(SparkEntry.queries)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.get(cpus)
    new java.io.File(outDir).mkdirs()
    val failed = queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // same per-query hygiene as Bench (same order: blocking RDD
        // unpersist first, then CacheManager registry reconciliation)
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        spark.sharedState.cacheManager.clearCache()
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(kept(SparkEntry.oracleSql).toMap))
    spark.stop()
    // a query that fails to dump would otherwise just VANISH from the
    // round's correctness record (round 6 lost 24 rows with no err entry)
    // — exit nonzero and name them so the shrink is loud
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} of ${queries.size} queries failed to dump: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private[graft] def oracleJson(m: Map[String, String]): String =
    m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
}
