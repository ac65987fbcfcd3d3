package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import graft.tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Manifest-chunked commit metadata (the Iceberg manifest/manifest-list
  * analog): persisted commit jsons are O(delta) — the live file list,
  * per-file rows/specs, and write-time column bounds live in immutable
  * manifest chunks — so commit cost stays flat as the table grows, and
  * the pruned-read / watermark paths resolve bounds from the metadata
  * log with ZERO data-file footer IO. A commit or chunk json of any
  * other shape fails the read.
  */
class ManifestSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshRoot(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_manifest_wh", name)
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

  private def jsonOf(root: String, name: String, v: Int): String =
    Files.readString(Paths.get(s"$root/$name/_commits/commit-$v.json"))

  private def chunkFiles(root: String, name: String): Set[String] =
    Option(new java.io.File(s"$root/$name/_manifests").listFiles())
      .getOrElse(Array.empty).map(_.getName).filter(_.startsWith("manifest-")).toSet

  test("persisted commit json is O(delta): no file names inline, size flat as the table grows") {
    val root = freshRoot("m1")
    val t = new GraftTable(spark, TableDef("m1", schema), root)
    val sizes = (0 until 12).map { i =>
      t.append(df(i * 100 until (i + 1) * 100, s"g$i", i.toDouble))
      Files.size(Paths.get(s"$root/m1/_commits/commit-${i + 1}.json"))
    }
    // json carries chunk names + carried maps, never the file list
    val last = jsonOf(root, "m1", 12)
    assert(!last.contains(".parquet"), "commit json still inlines file names")
    assert(last.contains("manifest-"))
    // growth per commit is one ~50-byte chunk REF (bounded at
    // MaxChunkRefs by the fold-smallest merge), never O(live files):
    // each 100-file append must add well under one file name's worth
    val deltas = sizes.sliding(2).map(p => p(1) - p(0)).toSeq
    assert(deltas.forall(_ < 100),
      s"per-commit json growth ${deltas.max}B looks O(files), not one chunk ref")
    // the resolved in-memory view still carries the FULL live set
    assert(t.commits.last.files.size >= 12)
    assert(t.readLogical().count() == 1200)
  }

  test("append carries prior chunks by reference; removal rewrites only touched chunks") {
    val root = freshRoot("m2")
    val t = new GraftTable(spark, TableDef("m2", schema), root)
    t.append(df(0 until 50, "a", 1.0)) // v1 -> chunk A
    t.append(df(50 until 100, "b", 2.0)) // v2 -> carries A, adds B
    val v1Chunks = t.commits.find(_.version == 1).get.manifests
    val v2Chunks = t.commits.find(_.version == 2).get.manifests
    assert(v1Chunks.size == 1 && v2Chunks.size == 2)
    assert(v2Chunks.contains(v1Chunks.head), "append rewrote a carried chunk")
    // a delete+compact drops v1's files: chunk A breaks, chunk B carries
    t.deleteWhere(col("grp") === "a")
    t.compact()
    val v4Chunks = t.commits.last.manifests
    assert(!v4Chunks.contains(v1Chunks.head), "broken chunk still referenced")
    assert(t.readLogical().count() == 50)
  }

  test("chunk references stay bounded under many appends (fold-smallest merge)") {
    val root = freshRoot("m3")
    val t = new GraftTable(spark, TableDef("m3", schema), root)
    for (i <- 0 until 40)
      t.append(df(i * 10 until (i + 1) * 10, s"g${i % 3}", i.toDouble))
    val refs = t.commits.last.manifests
    assert(refs.size <= 24, s"chunk refs unbounded: ${refs.size}")
    assert(t.commits.last.files.size >= 40)
    assert(t.readLogical().count() == 400)
  }

  test("pruned reads and watermark lookups resolve bounds with ZERO footer probes") {
    val tsSchema = StructType(Seq(
      StructField("ts", TimestampType), StructField("v", DoubleType)))
    def tsDf(day: Int) = {
      import spark.implicits._
      (0 until 8).map(i =>
        (java.sql.Timestamp.valueOf(f"2024-02-$day%02d 0$i:00:00"), day.toDouble))
        .toDF("ts", "v")
    }
    val root = freshRoot("m4")
    val w = new GraftTable(spark, TableDef("m4", tsSchema), root)
    w.append(tsDf(1)); w.append(tsDf(15)); w.append(tsDf(28))
    // a fresh handle: the writer's footer cache would hide a footer open
    val t = new GraftTable(spark, TableDef("m4", tsSchema), root)
    val micros = (d: String) => java.sql.Timestamp.valueOf(d).getTime * 1000L
    val before = GraftTable.footerProbeCount.get()
    // range prune: only day-15 files open
    val mid = t.readRangeLogical("ts",
      micros("2024-02-10 00:00:00"), micros("2024-02-20 00:00:00"))
    assert(mid.count() == 8)
    // watermark: footer max from the manifest entries
    assert(t.columnMaxMicros("ts").contains(micros("2024-02-28 07:00:00")))
    assert(GraftTable.footerProbeCount.get() == before,
      "manifest-format table paid per-file footer probes on the pruned path")
  }

  test("commit and chunk jsons of any other shape are rejected, naming table and file") {
    val root = freshRoot("m5")
    val t = new GraftTable(spark, TableDef("m5", schema), root)
    t.append(df(0 until 30, "a", 1.0)) // v1
    val commitPath = Paths.get(s"$root/m5/_commits/commit-1.json")
    val valid = Files.readString(commitPath)
    val v1 = t.commits.head
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    def rejected(file: String): Unit = {
      val e = intercept[IllegalStateException](
        new GraftTable(spark, TableDef("m5", schema), root).commits) // fresh handle
      assert(e.getMessage.contains("m5") && e.getMessage.contains(file), e.getMessage)
    }
    // a commit json without manifests, its file list inline and the
    // later fields (sinkBatches among them) missing
    Files.writeString(commitPath, mapper.writeValueAsString(Map(
      "version" -> 1, "tsMs" -> v1.tsMs, "op" -> "append",
      "rowCount" -> v1.rowCount, "files" -> v1.files,
      "fileRows" -> v1.fileRows)))
    rejected("commit-1.json")
    // a valid commit json whose chunk holds an entry without bounds
    Files.writeString(commitPath, valid)
    val chunk = v1.manifests.head
    Files.writeString(Paths.get(s"$root/m5/_manifests/$chunk"), mapper.writeValueAsString(
      Map("entries" -> Seq(Map("p" -> v1.files.head, "r" -> 30, "s" -> null)))))
    rejected(chunk)
    // an entry with bounds but without its sequence number
    Files.writeString(Paths.get(s"$root/m5/_manifests/$chunk"), mapper.writeValueAsString(
      Map("entries" -> Seq(Map("p" -> v1.files.head, "r" -> 30, "s" -> null,
        "b" -> Seq(Map("c" -> "id", "lo" -> 0, "hi" -> 29)))))))
    rejected(chunk)
  }

  test("fresh handle deserializes chunk bounds as Longs (small and large values)") {
    val root = freshRoot("m6")
    val t = new GraftTable(spark, TableDef("m6", schema), root)
    t.append(df(0 until 10, "a", 1.0)) // id bounds 0..9 — Int-sized
    val t2 = new GraftTable(spark, TableDef("m6", schema), root)
    // forces chunk parse on the fresh handle + bound use (id is INT64)
    assert(t2.columnMaxMicros("id").contains(9L))
  }

  test("orphan sweep reclaims chunks of expired snapshots and dropped branches") {
    val root = freshRoot("m7")
    val t = new GraftTable(spark, TableDef("m7", schema), root)
    t.append(df(0 until 20, "a", 1.0))
    t.append(df(20 until 40, "b", 2.0))
    t.compact() // v3 rewrites; v1/v2 chunks referenced only by old jsons
    val b = t.createBranch("audit")
    b.append(df(40 until 50, "c", 3.0)) // branch chunk
    val allChunks = chunkFiles(root, "m7")
    t.dropBranch("audit")
    t.expireSnapshots(olderThanMs = -1L) // keep only the latest
    t.removeOrphans()
    val left = chunkFiles(root, "m7")
    assert(left.subsetOf(allChunks))
    assert(t.commits.last.manifests.toSet.subsetOf(left))
    assert(left == t.commits.last.manifests.toSet,
      s"unreferenced chunks survived the sweep: ${left -- t.commits.last.manifests.toSet}")
    assert(t.readLogical().count() == 40)
  }

  test("bounds survive a column rename: stored under write-time names, probed via the rename log") {
    val root = freshRoot("m8")
    val t = new GraftTable(spark, TableDef("m8", schema), root)
    t.append(df(0 until 25, "a", 1.0))
    t.renameColumn("id", "uid")
    val fresh = new GraftTable(spark, TableDef("m8", schema), root)
    val before = GraftTable.footerProbeCount.get()
    // the file stores `id`; the manifest entry's bounds key is `id`;
    // the probe for current-name `uid` must resolve through the log
    assert(fresh.columnMaxMicros("uid").contains(24L))
    assert(GraftTable.footerProbeCount.get() == before)
  }

  test("chunk-parse cache is bounded on a long-lived handle (prune keeps the live set)") {
    val dir = freshRoot("m9")
    val store = new ManifestStore("m9", dir)
    val names = (0 until 300).map(i =>
      store.write(Seq(ManifestEntry(s"f$i.parquet", i.toLong, None, Nil, 1))))
    assert(store.cachedChunkCount == 300)
    // below the floor nothing evicts (steady-state churn must not thrash)
    store.prune(names.takeRight(5).toSet, floor = 1000)
    assert(store.cachedChunkCount == 300)
    // past the floor only the kept (live) set survives
    store.prune(names.takeRight(5).toSet, floor = 256)
    assert(store.cachedChunkCount == 5)
    // evicted chunks are still readable — immutable files re-parse
    assert(store.read(names.head).head.p == "f0.parquet")
    assert(store.read(names.head).head.r == 0L)
  }

  test("a read-only handle's chunk-parse cache stays bounded as the log grows") {
    val root = freshRoot("m10")
    val writer = new GraftTable(spark, TableDef("m10", schema), root)
    val reader = new GraftTable(spark, TableDef("m10", schema), root)
    for (i <- 0 until 300) {
      writer.append(df(i until i + 1, "a", 1.0))
      val live = reader.head.manifests.size
      assert(reader.cachedChunkCount <= math.max(256, live),
        s"reader caches ${reader.cachedChunkCount} chunks after ${i + 1} commits ($live live)")
    }
  }
}
