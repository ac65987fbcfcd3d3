package graft.pipebench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The generated corpus the `functions` rows of the serve mix read:
  * documents and embeddings shaped like the sf0.1 ones. It is fixed (its
  * own seed), so every row's result checksum can be pinned.
  */
object Corpus {
  val CorpusSeed = 42L
  val BaseDocs = 5000
  val BaseVecs = 2000
  private val Dim = 64
  private val Vocab = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch")
  private val Langs = Seq("zh", "de", "fr", "es")

  /** Base documents: uniform words from a 30-word vocabulary, 10-100
    * words, 41 % `en`; 5 % are near-duplicates (another document plus
    * one word) and a few are exact copies — the sf0.1 corpus's shape.
    */
  private def baseDocs(n: Int): Seq[(Long, String, String, String)] = {
    val rnd = new scala.util.Random(CorpusSeed)
    val texts = Array.fill(n)(Seq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.size))).mkString(" "))
    (0 until n).foreach { i =>
      val r = rnd.nextDouble()
      if (r < 0.05) texts(i) = texts(rnd.nextInt(n)) + " dup"
      else if (r < 0.052) texts(i) = texts(rnd.nextInt(n))
    }
    (0 until n).map { i =>
      val lang = if (rnd.nextDouble() < 0.41) "en" else Langs(rnd.nextInt(Langs.size))
      (i.toLong, texts(i), lang, s"src${i % 20}")
    }
  }

  /** Unit vectors around ten label centroids. */
  private def baseVecs(n: Int): Seq[(Long, Array[Float], Int)] = {
    val rnd = new scala.util.Random(CorpusSeed + 1)
    val centroids = Array.fill(10)(Array.fill(Dim)(rnd.nextGaussian()))
    (0 until n).map { i =>
      val label = rnd.nextInt(10)
      val v = centroids(label).map(_ + 1.5 * rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat), label)
    }
  }

  /** Writes `documents.parquet` and `embeddings.parquet` under `dir`. */
  def build(spark: SparkSession, dir: String, cores: Int): Unit = {
    import spark.implicits._
    baseDocs(BaseDocs).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .repartition(cores).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    baseVecs(BaseVecs).toDF("vec_id", "embedding", "label")
      .repartition(cores).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
