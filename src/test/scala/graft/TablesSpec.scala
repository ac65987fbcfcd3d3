package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import graft.tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Maintenance + table-format behavior that isn't SQL-expressible for the
  * oracle: compaction shrinks the live file set (M7), snapshot expiry +
  * orphan cleanup reclaim space without breaking the latest snapshot
  * (M8), time travel reads old versions (S10), drift check fires (S7).
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshRoot(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_test_wh", name)
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

  test("append accumulates rows and versions; time travel reads old snapshots") {
    val t = new GraftTable(spark, TableDef("t1", schema), freshRoot("t1"))
    t.append(df(0 until 10, "a", 1.0))
    t.append(df(10 until 30, "b", 2.0))
    assert(t.currentVersion == 2)
    assert(t.readLogical().count() == 30)
    assert(t.read(Some(1)).count() == 10)
  }

  test("commit cache is content-keyed: a same-length same-mtime rewrite is not served stale") {
    val root = freshRoot("cck")
    val t = new GraftTable(spark, TableDef("cck", schema), root)
    val p = Paths.get(s"$root/cck/_commits/commit-1.json")
    def plant(rowCount: Int): Unit = {
      Files.writeString(p,
        s"""{"version":1,"tsMs":0,"op":"append","rowCount":$rowCount,"files":[],""" +
          """"sinkBatches":{},"fileRows":{},"changeFiles":[],"deleteFiles":[],""" +
          """"schemaDdl":null,"morDeleteFiles":{},"partSpecDdl":null,"fileSpecs":{},""" +
          """"renames":[],"posDeleteFiles":{},"manifests":[]}""")
      p.toFile.setLastModified(1700000000000L) // pin mtime across rewrites
    }
    plant(5)
    assert(t.commits.head.rowCount == 5)
    // rewrite with IDENTICAL byte length and IDENTICAL mtime — the
    // purge-and-rebuild shape an (size, mtime) cache key serves stale
    plant(7)
    assert(Files.size(p) == p.toFile.length())
    assert(t.commits.head.rowCount == 7,
      "commit cache served a stale CommitMeta for a same-length same-mtime rewrite")
  }

  test("upsert replaces rows by key, keeps the rest") {
    val t = new GraftTable(spark, TableDef("t2", schema, keys = Seq("id")), freshRoot("t2"))
    t.upsert(df(0 until 10, "a", 1.0))
    t.upsert(df(5 until 15, "b", 2.0))
    val out = t.readLogical()
    assert(out.count() == 15)
    assert(out.filter(col("id") < 5 && col("grp") === "a").count() == 5)
    assert(out.filter(col("id") >= 5 && col("grp") === "b").count() == 10)
  }

  test("merge-on-read upsert commits only the batch; read + compact resolve latest-wins") {
    val cow = new GraftTable(spark,
      TableDef("mc", schema, keys = Seq("id")), freshRoot("morc"))
    val mor = new GraftTable(spark,
      TableDef("mm", schema, keys = Seq("id"), mergeOnRead = true), freshRoot("morm"))
    val batches = Seq(df(0 until 10, "a", 1.0), df(5 until 15, "b", 2.0), df(0 until 3, "c", 3.0))
    batches.foreach(cow.upsert)
    var filesBefore = Set.empty[String]
    batches.foreach { b =>
      mor.upsert(b)
      val now = mor.commits.last.files.toSet
      assert(filesBefore.subsetOf(now), "a MOR upsert must never rewrite existing files")
      filesBefore = now
    }
    def sorted(t: GraftTable) = t.readLogical().orderBy("id").collect().toSeq
    assert(sorted(mor) == sorted(cow), "MOR read must equal the COW result")
    // time travel still merges correctly at an intermediate version
    assert(mor.readLogical(Some(2)).count() == 15)
    // compaction materializes the merge: fewer live files, same rows,
    // and subsequent reads skip the merge (single sequence group)
    mor.compact()
    assert(sorted(mor) == sorted(cow), "post-compact MOR read must equal COW")
    assert(mor.commits.last.files.size < filesBefore.size)
    // expiry keeps sequence-ordering commits only when still needed:
    // after compact nothing old is needed, so history can fully expire
    mor.expireSnapshots(olderThanMs = -1000)
    assert(mor.removeOrphans() > 0)
    assert(sorted(mor) == sorted(cow), "post-expiry MOR read must equal COW")
  }

  test("replaceWhere drops matching rows and inserts the replacement") {
    val t = new GraftTable(spark, TableDef("t3", schema), freshRoot("t3"))
    t.append(df(0 until 10, "a", 1.0))
    t.replaceWhere(col("grp") === "a" && col("id") >= 8, df(100 until 103, "r", 9.0))
    val out = t.readLogical()
    assert(out.count() == 11)
    assert(out.filter(col("id") >= 8 && col("id") < 10).count() == 0)
    assert(out.filter(col("grp") === "r").count() == 3)
  }

  test("range-pruned replaceWhere leaves out-of-range files untouched by name") {
    val tsSchema = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("v", DoubleType)))
    def tsDf(day: Int, n: Int) = {
      import spark.implicits._
      (0 until n).map(i => (java.sql.Timestamp.valueOf(f"2024-01-$day%02d 0${i % 9}:00:00"), day.toDouble))
        .toDF("ts", "v")
    }
    val t = new GraftTable(spark, TableDef("t9", tsSchema), freshRoot("t9"))
    t.append(tsDf(1, 9)) // old files, far outside the repair range
    t.append(tsDf(20, 9))
    val oldFiles = t.commits.head.files.toSet
    val micros = (d: String) => java.sql.Timestamp.valueOf(d).getTime * 1000L
    val cond = col("ts") >= lit("2024-01-19").cast("timestamp")
    t.replaceWhere(cond, tsDf(21, 4),
      Some(RangePrune("ts", micros("2024-01-19 00:00:00"), Long.MaxValue)))
    val live = t.commits.last.files.toSet
    assert(oldFiles.subsetOf(live), "day-1 files must be carried over, not rewritten")
    val out = t.readLogical()
    assert(out.count() == 13)
    assert(out.filter(col("v") === 1.0).count() == 9)
    assert(out.filter(col("v") === 20.0).count() == 0)
    assert(t.commits.last.rowCount == 13)
    // footer watermark agrees with a scan
    assert(t.columnMaxMicros("ts").contains(micros("2024-01-21 03:00:00")))
  }

  test("compaction shrinks file count, preserves rows, and partition layout") {
    val t = new GraftTable(spark,
      TableDef("t4", schema, Seq(IdentityTransform("grp"))), freshRoot("t4"))
    for (i <- 0 until 6) t.append(df(i * 10 until (i + 1) * 10, s"g${i % 2}", i.toDouble))
    val before = t.commits.last.files.size
    t.compact()
    val after = t.commits.last.files.size
    assert(after < before, s"expected fewer files, before=$before after=$after")
    assert(t.readLogical().count() == 60)
    // partition dirs survive → pruning filter still answers correctly
    assert(t.read().filter(col("p_grp") === "g0").count() == 30)
  }

  test("binpack compaction carries right-sized files by name, merges the rest") {
    val t = new GraftTable(spark, TableDef("t10", schema), freshRoot("t10"))
    t.append(df(0 until 5000, "big", 1.0)) // one larger file
    for (i <- 0 until 4) t.append(df(10000 + i * 10 until 10000 + (i + 1) * 10, "small", 2.0))
    val live = t.commits.last.files
    // pick a threshold between the big file and the small ones so the
    // big file is "right-sized" and must be carried over untouched
    val bigFile = t.commits.head.files.head
    val bigLen = new java.io.File(
      Paths.get(sys.props("java.io.tmpdir"), "graft_test_wh", "t10", "t10", "data", bigFile).toString).length()
    t.compact(targetBytes = bigLen)
    val after = t.commits.last.files
    assert(after.contains(bigFile), "right-sized file must survive by name")
    assert(after.size < live.size, "small files must merge")
    assert(t.readLogical().count() == 5040)
    assert(t.commits.last.rowCount == 5040)
  }

  test("null identifier keys: copy-on-write latest-wins matches merge-on-read") {
    import spark.implicits._
    def batch(grp: String, v: Double) =
      Seq((Option.empty[Long], grp, v), (Some(1L), grp, v))
        .toDF("id", "grp", "v")
    val cow = new GraftTable(spark,
      TableDef("nkc", schema, keys = Seq("id")), freshRoot("nkc"))
    val mor = new GraftTable(spark,
      TableDef("nkm", schema, keys = Seq("id"), mergeOnRead = true), freshRoot("nkm"))
    for ((g, v) <- Seq(("a", 1.0), ("b", 2.0))) {
      cow.upsert(batch(g, v)); mor.upsert(batch(g, v))
    }
    def sortedRows(t: GraftTable) =
      t.readLogical().orderBy("id", "grp").collect().toSeq.map(_.toSeq)
    // the second upsert's null-key row must REPLACE the first one's —
    // a plain (=) anti-join would keep both on the COW side only
    assert(cow.readLogical().filter(col("id").isNull).count() == 1)
    assert(sortedRows(cow) == sortedRows(mor))
  }

  test("expireSnapshots + removeOrphans delete old commits and unreferenced files") {
    val t = new GraftTable(spark, TableDef("t5", schema, keys = Seq("id")), freshRoot("t5"))
    t.upsert(df(0 until 10, "a", 1.0))
    t.upsert(df(0 until 10, "b", 2.0)) // rewrites all rows → v1 files now dead
    val expired = t.expireSnapshots(olderThanMs = -1000) // everything but latest
    assert(expired == 1)
    val removed = t.removeOrphans()
    assert(removed > 0, "v1's replaced files should be orphaned and deleted")
    assert(t.readLogical().count() == 10)
    assert(t.readLogical().filter(col("grp") === "b").count() == 10)
  }

  for (seed <- Seq(11L, 42L)) {
    test(s"randomized upserts: merge-on-read == copy-on-write under compact/expire (seed $seed)") {
      import spark.implicits._
      val rnd = new scala.util.Random(seed)
      val root = freshRoot(s"morprop$seed")
      val cow = new GraftTable(spark, TableDef("cow", schema, keys = Seq("id")), root)
      val mor = new GraftTable(spark,
        TableDef("mor", schema, keys = Seq("id"), mergeOnRead = true), root)
      def snap(t: GraftTable) = t.readLogical().collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sorted.toSeq
      for (step <- 0 until 12) {
        // duplicate keys within a batch are legal (both strategies keep them)
        val batch = Seq.fill(1 + rnd.nextInt(20))(
          (rnd.nextInt(40).toLong, s"g${rnd.nextInt(3)}", rnd.nextInt(1000) / 10.0))
          .toDF("id", "grp", "v")
        cow.upsert(batch)
        mor.upsert(batch)
        // maintenance at random points must never change the logical view
        if (rnd.nextInt(4) == 0) mor.compact()
        if (rnd.nextInt(5) == 0) mor.expireSnapshots(olderThanMs = -1000L)
        assert(snap(mor) == snap(cow), s"seed $seed diverged at step $step")
      }
    }
  }

  test("catalog maintenance sweep compacts, expires, and reclaims across tables") {
    val root = freshRoot("maint")
    val cat = new TableCatalog(spark, root, Seq(
      TableDef("facts", schema),
      TableDef("kv", schema, keys = Seq("id"), mergeOnRead = true)))
    val facts = cat.table("facts")
    val kv = cat.table("kv")
    for (i <- 0 until 5) facts.append(df(i * 10 until (i + 1) * 10, "a", 1.0))
    for (i <- 0 until 4) kv.upsert(df(0 until 10, "b", i.toDouble))

    assert(facts.needsCompaction() && kv.needsCompaction())
    val factRows = facts.readLogical().count()
    val kvBefore = kv.readLogical().collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap

    val reclaimed = cat.maintain(retentionMs = -1000L) // expire everything but latest
    assert(facts.commits.last.files.size < 5, "facts small files must merge")
    assert(facts.readLogical().count() == factRows)
    assert(kv.commits.last.files.size == 1, "MOR compaction materializes the merge")
    assert(kv.readLogical().collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
      == kvBefore, "latest-wins rows must survive maintenance")
    assert(facts.commits.size == 1 && kv.commits.size == 1, "old snapshots expired")
    assert(reclaimed.values.sum > 0, "orphaned pre-compaction files reclaimed")

    // second sweep is a no-op: nothing to compact, nothing to reclaim
    val v = (facts.currentVersion, kv.currentVersion)
    assert(!facts.needsCompaction() && !kv.needsCompaction())
    assert(cat.maintain(retentionMs = -1000L).values.sum == 0)
    assert((facts.currentVersion, kv.currentVersion) == v)
  }

  test("drift check passes on a clean table and fails on schema drift") {
    val root = freshRoot("t6")
    val cat = new TableCatalog(spark, root, Seq(TableDef("t6", schema)))
    cat.table("t6").append(df(0 until 5, "a", 1.0))
    cat.checkDrift()
    // redeclare the same table with a drifted schema → check must fail
    val drifted = StructType(schema.fields.map {
      case f if f.name == "v" => f.copy(dataType = StringType)
      case f => f
    })
    val cat2 = new TableCatalog(spark, root, Seq(TableDef("t6", drifted)))
    val report = cat2.driftReport("t6")
    assert(report.exists(_.contains("type drift")), report.mkString("; "))
    intercept[IllegalArgumentException](cat2.checkDrift())
  }

  test("purge deletes a table's data and log (M9)") {
    val root = freshRoot("t8")
    val cat = new TableCatalog(spark, root, Seq(TableDef("t8", schema)))
    // one handle per table per catalog, which still sees commits made
    // through any other handle
    assert(cat.table("t8") eq cat.table("t8"))
    cat.table("t8").append(df(0 until 5, "a", 1.0))
    assert(cat.table("t8").currentVersion == 1)
    new GraftTable(spark, TableDef("t8", schema), root).append(df(5 until 7, "b", 2.0))
    assert(cat.table("t8").head.version == 2)
    assert(cat.table("t8").readLogical().count() == 7)
    cat.purge("t8")
    assert(cat.table("t8").currentVersion == 0)
    assert(cat.table("t8").readLogical().count() == 0)
    // the purged table takes new writes through the same catalog
    cat.table("t8").append(df(0 until 3, "c", 3.0))
    assert(cat.table("t8").head.version == 1)
    assert(cat.table("t8").readLogical().collect().map(_.getString(1)).toSeq == Seq("c", "c", "c"))
  }

  test("z-order rewrite makes footer pruning effective on BOTH clustered columns") {
    val zschema = StructType(Seq(
      StructField("id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("v", DoubleType)))
    val t = new GraftTable(spark, TableDef("tz", zschema), freshRoot("tz"))
    val nRows = 100000
    val baseUs = 1700000000000000L
    def chunk(r: Range) = {
      import spark.implicits._
      r.map { i =>
        (i.toLong, i * 1000000L + baseUs, (i * 2654435761L) % 100000L, i / 7.0)
      }.toDF("id", "us", "user_id", "v")
        .select(col("id"), timestamp_micros(col("us")).as("ts"), col("user_id"), col("v"))
    }
    // four ts-contiguous appends = the natural "linear in write order"
    // layout: each file spans a ts quarter but the FULL user_id range
    (0 until 4).foreach(q =>
      t.append(chunk(q * nRows / 4 until (q + 1) * nRows / 4).coalesce(1)))
    val filesBefore = t.commits.last.files.size
    assert(filesBefore == 4)
    val tsLo = baseUs
    val tsHi = baseUs + (nRows / 4L - 1) * 1000000L
    val uidLo = 0L
    val uidHi = 100000L / 8
    // linear layout: ts (the write-order column) prunes to one file,
    // user_id prunes NOTHING
    assert(t.readRangeLogical("ts", tsLo, tsHi).inputFiles.length == 1)
    assert(t.readRangeLogical("user_id", uidLo, uidHi).inputFiles.length == filesBefore)
    val before = t.readLogical().orderBy("id").collect().toSeq

    t.compactZOrder(Seq("ts", "user_id"), targetBytes = 200 * 1024)
    val filesAfter = t.commits.last.files.size
    assert(filesAfter >= 4, s"expected a multi-file rewrite, got $filesAfter")
    assert(t.readLogical().orderBy("id").collect().toSeq == before,
      "z-order rewrite must not change table content")
    // clustered layout: BOTH columns now prune
    val tsRead = t.readRangeLogical("ts", tsLo, tsHi).inputFiles.length
    val uidRead = t.readRangeLogical("user_id", uidLo, uidHi).inputFiles.length
    assert(tsRead < filesAfter, s"ts range read $tsRead of $filesAfter files")
    assert(uidRead < filesAfter, s"user_id range read $uidRead of $filesAfter files")
    assert(t.snapshots.orderBy("version").collect().last.getString(2) == "zorder")
  }

  test("partitioned z-order clusters WITHIN each partition directory") {
    val zschema = StructType(Seq(
      StructField("id", LongType),
      StructField("day", StringType),
      StructField("user_id", LongType),
      StructField("event_id", LongType)))
    val t = new GraftTable(spark,
      TableDef("tzp", zschema, partitions = Seq(IdentityTransform("day"))),
      freshRoot("tzp"))
    val nRows = 40000
    def chunk(r: Range) = {
      import spark.implicits._
      r.map { i =>
        (i.toLong, s"d${i % 2}", (i * 2654435761L) % 100000L, (i * 40503L) % 100000L)
      }.toDF("id", "day", "user_id", "event_id")
    }
    // four appends, each covering both days and the full user/event range
    val k = "spark.sql.adaptive.coalescePartitions.enabled"
    val prior = spark.conf.getOption(k)
    spark.conf.set(k, "false")
    try {
      (0 until 4).foreach(q =>
        t.append(chunk(q * nRows / 4 until (q + 1) * nRows / 4).coalesce(1)))
      val before = t.readLogical().orderBy("id").collect().toSeq
      // partition sources refuse as z-columns (the directory covers them)
      intercept[IllegalArgumentException] {
        t.compactZOrder(Seq("day", "user_id"))
      }
      t.compactZOrder(Seq("user_id", "event_id"), targetBytes = 64 * 1024)
      assert(t.readLogical().orderBy("id").collect().toSeq == before,
        "z-order rewrite must not change table content")
      // layout: still partition dirs, multiple z-clustered files per dir
      val byDir = t.commits.last.files.groupBy(_.split('/').head)
      assert(byDir.keySet == Set("p_day=d0", "p_day=d1"), byDir.keySet.toString)
      assert(byDir.values.forall(_.size >= 2),
        s"expected a multi-file z-split inside each partition: " +
          byDir.view.mapValues(_.size).toMap.toString)
      // both clustered columns prune WITHIN the partition count
      val filesAfter = t.commits.last.files.size
      val uid = t.readRangeLogical("user_id", 0L, 100000L / 8).inputFiles.length
      val eid = t.readRangeLogical("event_id", 0L, 100000L / 8).inputFiles.length
      assert(uid < filesAfter, s"user_id range read $uid of $filesAfter files")
      assert(eid < filesAfter, s"event_id range read $eid of $filesAfter files")
    } finally prior match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
  }

  test("snapshots table records version, operation, and row counts") {
    val t = new GraftTable(spark, TableDef("t7", schema), freshRoot("t7"))
    t.append(df(0 until 10, "a", 1.0))
    t.overwrite(df(0 until 3, "b", 2.0))
    val snaps = t.snapshots.orderBy("version").collect()
    assert(snaps.map(_.getString(2)).toSeq == Seq("append", "overwrite"))
    assert(snaps.map(_.getLong(3)).toSeq == Seq(10L, 3L))
  }
}
