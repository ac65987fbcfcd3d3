package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import graft.tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Property pins for the manifest-chunked commit metadata: under random
  * op histories (append / delete / compact / rename / evolve / replace /
  * expire+orphans), every persisted commit json stays O(delta) — no
  * inline file names — while a FRESH handle (forced chunk re-parse,
  * the Jackson path) resolves exactly the same snapshot: same files,
  * same per-file row counts (checked against footer ground truth),
  * same logical rows, and a footer-free watermark equal to a scan.
  */
class ManifestPropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshRoot(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_manifest_prop", name)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    Files.createDirectories(p)
    p.toString
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("grp", StringType),
    StructField("v", DoubleType)))

  private def df(ids: Range, grp: String, v: Double) = {
    import spark.implicits._
    ids.map(i => (i.toLong, grp, v)).toDF("id", "grp", "v")
  }

  for (seed <- Seq(5, 17)) {
    test(s"random histories: O(delta) jsons, fresh-handle equality, footer-true rows (seed $seed)") {
      val rnd = new scala.util.Random(seed)
      val root = freshRoot(s"prop$seed")
      val t = new GraftTable(spark, TableDef(s"prop$seed", schema), root)
      var nextId = 0L
      var renamed = false
      // appends must present the CURRENT logical name once v -> amount
      def batch(ids: Range, grp: String, v: Double) = {
        val d = df(ids, grp, v)
        if (renamed) d.withColumnRenamed("v", "amount") else d
      }
      for (step <- 0 until 10) {
        rnd.nextInt(6) match {
          case 0 | 1 => // append (weighted: the dominant op)
            val n = 5 + rnd.nextInt(20)
            t.append(batch(nextId.toInt until (nextId + n).toInt, s"g${step % 3}",
              rnd.nextInt(100) / 10.0))
            nextId += n
          case 2 if t.currentVersion > 0 =>
            t.deleteWhere(col("id") % (2 + rnd.nextInt(3)) === 0)
          case 3 if t.currentVersion > 0 =>
            t.compact(targetBytes = 1L << 20)
          case 4 if t.currentVersion > 0 && !renamed =>
            t.renameColumn("v", "amount"); renamed = true
          case 5 if t.currentVersion > 1 =>
            t.expireSnapshots(olderThanMs = -1L); t.removeOrphans()
          case _ =>
            t.append(batch(nextId.toInt until (nextId + 3).toInt, "gx", 1.0))
            nextId += 3
        }
      }
      if (t.currentVersion == 0) t.append(batch(0 until 5, "g0", 1.0))
      // 1. every persisted json is O(delta): the live list and its
      // per-file maps live in chunks (delta fields — changeFiles,
      // deleteFiles, pending tombstone maps — may legitimately name
      // their O(delta) files inline)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      val dir = new java.io.File(s"$root/prop$seed/_commits")
      for (f <- dir.listFiles().filter(_.getName.startsWith("commit-"))) {
        val raw = mapper.readValue(Files.readAllBytes(f.toPath), classOf[CommitMeta])
        assert(Option(raw.files).forall(_.isEmpty),
          s"${f.getName} inlines the live file list")
        assert(raw.fileRows.isEmpty && raw.fileSpecs.isEmpty,
          s"${f.getName} inlines per-file maps")
        assert(raw.manifests.nonEmpty)
      }
      // 2. a FRESH handle (chunk re-parse via Jackson) resolves the
      // same snapshot the writing handle holds
      val t2 = new GraftTable(spark, TableDef(s"prop$seed", schema), root)
      val (a, b) = (t.commits.last, t2.commits.last)
      assert(a.files.sorted == b.files.sorted)
      assert(a.fileRows == b.fileRows)
      assert(a.fileSpecs == b.fileSpecs)
      assert(t.readLogical().count() == t2.readLogical().count())
      // 3. manifest row counts are footer ground truth (sum = snapshot)
      assert(a.fileRows.values.sum == a.rowCount)
      val scanned = t2.readLogical().count()
      val pendingDeletes = a.posDeleteFiles.nonEmpty
      if (!pendingDeletes)
        assert(a.rowCount == scanned,
          "manifest row counts diverged from the logical scan")
      // 4. the watermark resolves footer-free; with no pending
      // tombstones it equals a scan (tombstoned rows still count into
      // the write-time footer stats by design)
      val before = GraftTable.footerProbeCount.get()
      val wm = t2.columnMaxMicros("id")
      assert(GraftTable.footerProbeCount.get() == before,
        "fresh-handle watermark paid footer probes on a manifest table")
      val direct = t2.readLogical().agg(max(col("id"))).collect().head.getLong(0)
      if (!pendingDeletes)
        assert(wm.contains(direct), s"watermark $wm != scan max $direct")
      else assert(wm.exists(_ >= direct))
    }
  }
}
