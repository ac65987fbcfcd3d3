package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import graft.tables._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Declared write sort order (Iceberg write.sort-order): appends to an
  * unpartitioned sorted table range-distribute + sort, so each file's
  * footer covers a disjoint slice of the sort column and a range read
  * opens O(window) files; an unsorted twin of the same data opens
  * everything. Round-trip equality, compaction re-sorting, and the
  * declaration refusal are pinned too.
  */
class SortOrderSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshRoot(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_sort_wh", name)
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    Files.createDirectories(p)
    p.toString
  }

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("ts", TimestampType),
    StructField("v", DoubleType)))

  // deterministic shuffled arrival: ts scattered across a month so an
  // UNSORTED write leaves every file spanning the whole range
  private def scattered(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      val day = 1 + (i * 17) % 28
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-$day%02d 12:00:00"), i * 1.0)
    }.toDF("id", "ts", "v").repartition(8) // 8 shuffled input slices
  }

  private def micros(s: String): Long =
    java.sql.Timestamp.valueOf(s).getTime * 1000L

  test("sorted appends give disjoint footer ranges: a day read opens few files; unsorted opens all") {
    val sorted = new GraftTable(spark,
      TableDef("so1", schema, sortOrder = Seq("ts")), freshRoot("so1"))
    val unsorted = new GraftTable(spark, TableDef("so2", schema), freshRoot("so2"))
    val data = scattered(4000)
    // tiny test rows: AQE would coalesce the range shuffle into one
    // file and leave nothing to prune — at real scale the range write
    // lands many files naturally
    val k = "spark.sql.adaptive.coalescePartitions.enabled"
    val prior = spark.conf.getOption(k)
    spark.conf.set(k, "false")
    try {
      sorted.append(data)
      unsorted.append(data)
    } finally prior match {
      case Some(v) => spark.conf.set(k, v)
      case None => spark.conf.unset(k)
    }
    val lo = micros("2024-01-10 00:00:00")
    val hi = micros("2024-01-10 23:59:59")
    def opened(t: GraftTable): Int =
      t.readRangeLogical("ts", lo, hi).inputFiles.length
    // 28 distinct ts values bound the range partitioner's split count —
    // a handful of disjoint files is exactly the observable we need
    val total = sorted.commits.last.files.size
    assert(total >= 3, s"need several files to make pruning observable, got $total")
    assert(opened(unsorted) == unsorted.commits.last.files.size,
      "unsorted twin: every file spans the range, nothing prunes")
    assert(opened(sorted) * 2 <= total,
      s"sorted: a 1-day read must open a small slice (${opened(sorted)} of $total)")
    // and the data itself is identical either way
    assert(sorted.readLogical().exceptAll(unsorted.readLogical()).isEmpty)
    assert(unsorted.readLogical().exceptAll(sorted.readLogical()).isEmpty)
  }

  test("compaction re-sorts: pruning survives a binpack rewrite") {
    val t = new GraftTable(spark,
      TableDef("so3", schema, sortOrder = Seq("ts")), freshRoot("so3"))
    t.append(scattered(2000))
    t.append(scattered(2000).withColumn("id", col("id") + 100000L))
    t.compact(targetBytes = 16L * 1024)
    val total = t.commits.last.files.size
    val opened = t.readRangeLogical("ts",
      micros("2024-01-10 00:00:00"), micros("2024-01-10 23:59:59")).inputFiles.length
    assert(total > 2 && opened < total,
      s"post-compact pruning must still bite ($opened of $total)")
    assert(t.readLogical().count() == 4000)
  }

  test("compaction with nothing to rewrite commits nothing") {
    import spark.implicits._
    val root = freshRoot("so5")
    val t = new GraftTable(spark, TableDef("so5", schema, sortOrder = Seq("ts")), root)
    // two appends over disjoint day ranges: two files whose sorted
    // slices do not overlap
    def days(first: Int) = (0 until 1000).map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-${first + i % 14}%02d 12:00:00"), i * 1.0)
    }.toDF("id", "ts", "v")
    t.append(days(1))
    t.append(days(15))
    val files = t.commits.last.files
    assert(files.size == 2, s"expected one file per append, got $files")
    def listing(dir: String): Seq[String] = {
      val s = Files.list(Paths.get(root, "so5", dir))
      try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted finally s.close()
    }
    val version = t.currentVersion
    val commitFiles = listing("_commits")
    val manifests = listing("_manifests")
    // every file sits at the target: nothing is small, stale or overlapping
    val target = files.map(f => Files.size(Paths.get(root, "so5", "data", f))).min
    assert(!t.needsCompaction(target))
    assert(t.compact(target).version == version)
    assert(t.currentVersion == version)
    assert(listing("_commits") == commitFiles)
    assert(listing("_manifests") == manifests)
    assert(t.commits.last.files == files)
    // nor does a table with no commits at all
    val empty = new GraftTable(spark, TableDef("so5e", schema, sortOrder = Seq("ts")), root)
    assert(empty.compact(target).version == 0)
    assert(empty.commits.isEmpty)
  }

  test("partitioned table with sort order: rows sorted within each partition file") {
    val t = new GraftTable(spark,
      TableDef("so4", schema, partitions = Seq(DayTransform("ts")),
        sortOrder = Seq("id")), freshRoot("so4"))
    import spark.implicits._
    val rows = Seq(5L, 1L, 9L, 3L).map(i =>
      (i, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 1.0))
    t.append(rows.toDF("id", "ts", "v").repartition(1))
    // one partition dir, one file: its physical row order is the sort order
    val file = t.commits.last.files.head
    val got = spark.read.parquet(s"${t.dataPath}/$file")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got == got.sorted, s"rows must be id-sorted within the file: $got")
  }

  test("unknown sort column refuses at declaration") {
    intercept[IllegalArgumentException] {
      TableDef("so5", schema, sortOrder = Seq("nope"))
    }
  }
}
