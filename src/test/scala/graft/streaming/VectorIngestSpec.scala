package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import graft.SparkTestSession
import graft.functions.{AnnOps, DedupOps}
import graft.tables.{GraftTable, IdentityTransform, TableDef}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

case class Vec(vec_id: Long, embedding: Array[Float])

/** Streaming IVF index maintenance: vectors streamed through
  * [[VectorIngest.cellAppend]] must land cell-partitioned with the
  * SAME assignments the batch path computes, probed reads must open
  * only the probed cells' files, and the served top-k must equal the
  * one-shot `ann_ivf_topk` oracle query over the same data.
  */
class VectorIngestSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def fresh(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_vecidx", name)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    Files.createDirectories(p)
    p.toString
  }

  private val idxSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("nrm", DoubleType),
    StructField("cell", LongType)))

  test("streamed cell index equals batch assignment, prunes by cell, serves IVF top-k") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
    val e = base.withColumn("nrm", sqrt(AnnOps.dot(col("embedding"), col("embedding"))))
    val codebook = AnnOps.centroids(e, AnnOps.NCentroids).cache()

    val table = new GraftTable(spark,
      TableDef("vec_index", idxSchema, partitions = Seq(IdentityTransform("cell"))),
      fresh("wh"))
    val src = MemoryStream[Vec]
    val q = VectorIngest.cellAppend(src.toDF(), codebook, table, fresh("ckpt"))
    val vecs = base.collect()
      .map(r => Vec(r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val (first, second) = vecs.splitAt(vecs.size / 2)
    src.addData(first); q.processAllAvailable()
    src.addData(second); q.processAllAvailable()
    q.stop()

    // exactly the input, assigned exactly as the batch path assigns
    assert(table.readLogical().count() == vecs.size)
    val streamedCells = table.readLogical().select("vec_id", "cell")
    val batchCells = DedupOps.semanticDedup(base)
      .select(col("vec_id"), col("cell"))
    assert(streamedCells.exceptAll(batchCells).count() == 0 &&
      batchCells.exceptAll(streamedCells).count() == 0,
      "streamed assignments must match the batch fold")

    // partition layout: one directory per occupied cell, probe prunes I/O
    // (df.inputFiles is pre-pruning — the scan's numFiles metric after
    // execution is what counts files actually opened)
    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      val plan = df.queryExecution.executedPlan
      val scans = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scans.nonEmpty, s"no file scan in plan:\n$plan")
      scans.map(_.metrics("numFiles").value).sum
    }
    val allFiles = filesRead(table.read())
    val oneCell = filesRead(
      table.read().filter(col("p_cell") === streamedCells.first().getLong(1)))
    assert(oneCell < allFiles, s"cell read opened $oneCell of $allFiles files — no pruning")

    // served result == the one-shot IVF query the oracle checks
    val served = VectorIngest.probeTopK(table,
      base.filter(col("vec_id") < 5), codebook, nprobe = 2, k = 5)
    val oneShot = AnnOps.annIvfTopk.fn(spark, sf)
    assert(served.exceptAll(oneShot).count() == 0 &&
      oneShot.exceptAll(served).count() == 0,
      "probeTopK over the streamed index must equal ann_ivf_topk")
    codebook.unpersist()
  }
}
