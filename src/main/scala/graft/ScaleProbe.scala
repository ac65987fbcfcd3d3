package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Empirical scaling probe for the dedup/near-dup/cluster path — the
  * operators whose 100 TB behavior rests on analytic claims (bounded
  * bucket occupancy, O(candidates) verify, O(log d) CC rounds). The
  * probe builds k-replica corpora from the sf0.1 documents and measures
  * the wall time of each pipeline stage at 1×, 3×, and 10×; near-linear
  * growth is the empirical check on those claims (results recorded in
  * SCALING.md).
  *
  * Replication model: copy c prefixes every word with `c<c>_`, so every
  * shingle/word hash differs across copies — no cross-copy near-dups —
  * while each copy reproduces the original's internal near-dup
  * structure exactly. Corpus size, true-pair count, and cluster count
  * all scale by k, which is precisely the "same data distribution,
  * k× the volume" regime a scale-up claim is about. (Naive
  * concatenation of identical copies would instead make every document
  * a 10-clone — pair volume ~45× per doc — a different, degenerate
  * problem.)
  *
  * Usage: `sbt "runMain graft.ScaleProbe"` (optional args: sfDir outRoot).
  */
object ScaleProbe {

  private def buildReplica(spark: SparkSession, sfDir: String, out: String, k: Int): Unit = {
    if (Files.exists(Paths.get(s"$out/documents.parquet"))) return
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
    val n = base.count()
    val copies = (0 until k).map { c =>
      val text = concat_ws(" ",
        transform(split(col("text"), " "), w => concat(lit(s"c${c}_"), w)))
      base.select(
        (col("doc_id") + lit(c * 10_000_000L)).as("doc_id"),
        text.as("text"),
        col("lang"), col("source"),
        length(text).as("n_chars"))
    }
    copies.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"built ${k}x corpus at $out (${n * k} docs)")
  }

  /** One warm-up pass (codegen/JIT/scan cache), then the timed run —
    * without it the 1× numbers absorb all JIT cost and the curve reads
    * as impossibly sublinear. GC tick between warm-up and measurement,
    * same as Bench: checkpoint/broadcast blocks from earlier stages are
    * reclaimed only after their refs are collected, and without the tick
    * a stage mid-probe can absorb the whole probe's GC debt (measured:
    * a 44 s minhash reading at 30× on unchanged code, 2.3 s at 100×).
    */
  private def timed[A](spark: SparkSession, label: String)(f: => A): (String, Double) = {
    // warm-up, then the MINIMUM of two measured runs: this box shows
    // ambient multi-x spikes on identical code (neighbors/GC debt), and
    // the min is the honest noise-floor estimate of warm cost. Before
    // each measurement, drop every lingering persisted/checkpointed RDD
    // — each run builds its OWN checkpoints, so blocks from the previous
    // run (GB-scale hv checkpoints at 100×) are dead weight that
    // non-evictably occupies the block manager — and tick a GC, as in
    // Bench, for broadcast refs.
    f
    val s = (0 until 2).map { _ =>
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }.min
    println(f"  $label%-22s $s%8.2f s")
    label -> s
  }

  /** k-replica embeddings: vec_id offsets keep the query set (vec_id<5)
    * and the hash-picked centroid/codebook donors FIXED while the
    * candidate corpus scales by k — exactly the regime the ANN scale
    * claims (per-query work ∝ probed candidates, codes a pure map) are
    * about. Vectors repeat across copies; ANN cost depends on counts
    * and bucket occupancy, not values, and occupancy growing k× IS the
    * growing-corpus behavior under test.
    */
  private def buildEmbReplica(spark: SparkSession, sfDir: String, out: String, k: Int): Unit = {
    if (Files.exists(Paths.get(s"$out/embeddings.parquet"))) return
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
    (0 until k).map { c =>
      base.select((col("vec_id") + lit(c * 100_000_000L)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }

  /** k-replica events: each copy shifts ts by 31 days and offsets
    * event_id AND user_id, so the fact table's row count, time span,
    * and user population all grow k× while per-hour density and
    * PER-USER activity stay fixed — the steady-state regime of the
    * windowed/funnel claims ("same distribution, k× the volume").
    * Keeping user_id fixed instead would grow every user's event count
    * k× — a DENSITY regime that turns the user-keyed funnel joins
    * per-key quadratic by construction (measured: j3 47.8 s at 100×
    * under fixed users vs near-linear under k× users); that adversarial
    * case is probed separately and deliberately by the hot-key leg.
    * Written time-ordered (repartitionByRange on ts), as streaming
    * ingestion lands facts in production.
    */
  /** The 10×+hot events table: the benign 10× replica with ONE user
    * remapped onto 10% of ALL rows — the deliberate density/bot regime
    * both the batch funnel legs and the streamed-funnel leg probe.
    * Scheme-pinned like buildEventsReplica: a hot table derived from a
    * pre-v2 (fixed-user) replica must be rebuilt, not reused.
    */
  private def ensureHotEvents(spark: SparkSession, sfDir: String, outRoot: String): String = {
    val hotDir = s"$outRoot/ev_x10hot"
    // EVERY derivation parameter in the marker name, and the dir wiped
    // (stale markers included) before a rebuild — the same partial-key
    // discipline as the rtb fixture marker: editing the hot user id,
    // density divisor, or partition count and later reverting must
    // regenerate, never silently reuse the other parameters' data
    val hotMarker = Paths.get(s"$hotDir/_hot-v2-userOffset-u424242-mod10-p20")
    if (!Files.exists(hotMarker)) {
      FsUtil.deleteRecursively(Paths.get(hotDir))
      buildEventsReplica(spark, sfDir, s"$outRoot/ev_x10", 10)
      spark.read.parquet(s"$outRoot/ev_x10/events.parquet")
        .withColumn("user_id",
          when(col("event_id") % 10 === 0, lit(424242L)).otherwise(col("user_id")))
        .repartitionByRange(20, col("ts"))
        .write.mode("overwrite").parquet(s"$hotDir/events.parquet")
      Files.createFile(hotMarker)
      println(s"built 10x+hot events (one user on 10% of rows) at $hotDir")
    }
    hotDir
  }

  private def buildEventsReplica(spark: SparkSession, sfDir: String, dir: String, k: Int): Unit = {
    // the 1× leg reads the testdata dir directly — NEVER a build (and
    // absolutely never the stale-rebuild delete below) against it
    if (dir == sfDir) return
    require(dir.startsWith(sys.props("java.io.tmpdir")),
      s"replica build target must be a scratch dir, got $dir")
    // the marker pins the replica SCHEME, not just existence: a replica
    // built by the pre-v2 code (fixed user_id — the density regime)
    // must be rebuilt, not silently reused to measure the wrong claim
    val marker = Paths.get(s"$dir/_events_replica-v2-userOffset-x$k")
    if (Files.exists(marker)) return
    graft.FsUtil.deleteRecursively(Paths.get(s"$dir/events.parquet"))
    val base = Tables(spark, sfDir).events
      .select("event_id", "ts", "user_id", "event_type", "value")
    (0 until k).map(c => base.select(
      (col("event_id") + lit(c * 100_000_000L)).as("event_id"),
      (col("ts") + expr(s"INTERVAL ${c * 31} DAYS")).as("ts"),
      (col("user_id") + lit(c * 10_000_000L)).as("user_id"),
      col("event_type"), col("value")))
      .reduce(_ unionByName _)
      .repartitionByRange(math.max(8, 2 * k), col("ts"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Files.createDirectories(Paths.get(dir))
    Files.createFile(marker)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val outRoot = if (args.length > 1) args(1) else "/tmp/graft_scale"
    val spark = GraftSession.get(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors))
    spark.sparkContext.setLogLevel("ERROR")

    // SPARK_GRAFT_PROBE=skew: the adversarial-occupancy probe — the 10×
    // replica corpus PLUS a hot band of 10k byte-identical documents
    // (the classic LSH mega-bucket). Measures the three near-dup stages
    // on the benign and hot corpora side by side: the cluster path must
    // stay near benign cost (exact-dup collapse removes the band before
    // banding), and the pair path must emit the capped C(1024,2) volume,
    // not C(10k,2).
    if (sys.env.get("SPARK_GRAFT_PROBE").contains("skew")) {
      buildReplica(spark, sfDir, s"$outRoot/x10", 10)
      val hotDir = s"$outRoot/x10hot"
      if (!Files.exists(Paths.get(s"$hotDir/documents.parquet"))) {
        val base = spark.read.parquet(s"$outRoot/x10/documents.parquet")
        val hotText =
          Seq.fill(40)("the same sentence repeated enough times to shingle").mkString(" ")
        import spark.implicits._
        val hot = (0 until 10000).map(i => (900000000L + i, hotText))
          .toDF("doc_id", "text")
          .withColumn("lang", lit("en")).withColumn("source", lit("hot"))
          .withColumn("n_chars", length(col("text")))
        base.unionByName(hot.select(base.columns.map(col): _*))
          .repartition(32).write.mode("overwrite").parquet(s"$hotDir/documents.parquet")
        println("built 10x+hot corpus (10k identical docs) at " + hotDir)
      }
      val skewStages = Seq[(String, Tables => org.apache.spark.sql.DataFrame)](
        "dedup_minhash_lsh" -> (t => functions.DedupOps.dedupMinhashLsh.fn(t.spark, t.dir)),
        "dedup_ngram_jaccard" -> (t => functions.DedupOps.dedupNgramJaccard.fn(t.spark, t.dir)),
        "dedup_clusters" -> (t => functions.DedupOps.dedupClusters.fn(t.spark, t.dir)))
      for (dir <- Seq(s"$outRoot/x10", hotDir)) {
        println(s"== ${dir.substring(dir.lastIndexOf('/') + 1)} ==")
        skewStages.foreach { case (l, fn) => timed(spark, l)(
          fn(Tables(spark, dir)).write.format("noop").mode("overwrite").save()) }
      }
      val nCand = functions.DedupOps.dedupMinhashLsh.fn(spark, hotDir).count()
      println(s"hot candidate pairs (capped): $nCand")
      spark.stop()
      return
    }

    // SPARK_GRAFT_PROBE=conc: contended-commit cost. N writer threads
    // (separate table handles, the reference's Flink-jobs-plus-cron
    // shape) each append K small batches to ONE table; the probe
    // reports wall time, lost-CAS retries, and per-commit cost vs the
    // single-writer baseline. Appends are commutative, so every lost
    // race replays O(delta) metadata — the retry count bounds the
    // convergence cost (expected O(N) retries per round of N
    // simultaneous commits, O(N^2) total for N writers x K appends in
    // lockstep; jittered backoff keeps the real count far below that).
    if (sys.env.get("SPARK_GRAFT_PROBE").contains("conc")) {
      import graft.tables.{GraftTable, TableDef}
      import org.apache.spark.sql.types._
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.global
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("v", DoubleType)))
      val k = 8
      println(s"== contended commits ($k appends/writer, one shared table) ==")
      for (n <- Seq(1, 2, 4, 8)) {
        val wh = s"$outRoot/conc_n$n"
        graft.FsUtil.deleteRecursively(Paths.get(wh))
        val defn = TableDef("probe", schema)
        val base = spark.range(0, 1000).select(col("id"),
          (col("id") * 1.5).as("v")).coalesce(1)
        val r0 = GraftTable.commitRetryCount.get()
        val t0 = System.nanoTime()
        val writers = (0 until n).map { _ => Future {
          val h = new GraftTable(spark, defn, wh)
          (0 until k).foreach(_ => h.append(base))
        }}
        Await.result(Future.sequence(writers), 600.seconds)
        val wallS = (System.nanoTime() - t0) / 1e9
        val retries = GraftTable.commitRetryCount.get() - r0
        val t = new GraftTable(spark, defn, wh)
        require(t.currentVersion == n * k, s"lost commit: ${t.currentVersion} != ${n * k}")
        require(t.readLogical().count() == n.toLong * k * 1000, "lost rows")
        println(f"  writers=$n%d  wall=$wallS%7.2f s  commits=${n * k}%3d  " +
          f"per_commit=${wallS / (n * k)}%5.3f s  lost_cas_retries=$retries%3d")
      }
      spark.stop()
      return
    }

    // SPARK_GRAFT_PROBE=manifest: commit-metadata scaling. Builds
    // sort-ordered tables at ~0.5k / ~5k / ~15k live files and
    // measures, at each size: the wall time and persisted JSON bytes of
    // ONE more append commit (must stay flat — the json carries chunk
    // refs bounded by the fold-smallest merge, never the file list),
    // and a range-pruned read + footer-watermark lookup with the
    // footer-probe counter sampled around them (must be ZERO — bounds
    // come from the manifest entries persisted at write time). This is
    // the 100× check on the manifest design: per-commit metadata IO is
    // O(delta); the remaining O(live) work is in-memory map building,
    // the same shape as Iceberg's manifest-list scan.
    if (sys.env.get("SPARK_GRAFT_PROBE").contains("manifest")) {
      import graft.tables.{GraftTable, TableDef}
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("ts", TimestampType), StructField("value", DoubleType)))
      val ev = Tables(spark, sfDir).events.select(col("ts"),
        round(col("value"), 2).as("value"))
      val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      val prevCoalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
      spark.conf.set("spark.sql.shuffle.partitions", "512") // 512 files/append
      // the probe SIMULATES a many-file table; AQE's small-partition
      // coalesce would collapse each append back to one file
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      try {
        for (k <- Seq(1, 10, 30, 100)) {
          val wh = s"$outRoot/manifest_x$k"
          graft.FsUtil.deleteRecursively(Paths.get(wh))
          val t = new GraftTable(spark, TableDef("probe", schema,
            sortOrder = Seq("ts")), wh)
          for (i <- 0 until k) // day-shifted slices → range-disjoint files
            t.append(ev.withColumn("ts",
              col("ts") + expr(s"INTERVAL ${i * 31} DAYS")))
          val live = t.commits.last.files.size
          println(s"== manifest ${k}x ($live live files) ==")
          val t0 = System.nanoTime()
          t.append(ev.limit(10000))
          val commitS = (System.nanoTime() - t0) / 1e9
          val jsonBytes = Files.size(Paths.get(
            s"$wh/probe/_commits/commit-${t.currentVersion}.json"))
          val chunkRefs = t.commits.last.manifests.size
          // the ASSEMBLY check (r15 missing #3 → r16 fast path): a
          // 1-file append on a WARM handle isolates the driver-side
          // commit cost — Spark's write of one file is a constant, so
          // any growth with the live count would be assembly CPU. Must
          // stay flat from 512 to 51k live files (predecessor-carried
          // maps + all-chunks-by-reference, zero chunk scans).
          spark.conf.set("spark.sql.shuffle.partitions", "1")
          val tinyTimes = (0 until 3).map { _ =>
            val s0 = System.nanoTime()
            t.append(ev.limit(100))
            (System.nanoTime() - s0) / 1e9
          }
          spark.conf.set("spark.sql.shuffle.partitions", "512")
          val tinyS = tinyTimes.sorted.apply(1) // median of 3
          val probes0 = GraftTable.footerProbeCount.get()
          val lo = ev.agg(min(col("ts"))).collect().head.getTimestamp(0).getTime * 1000L
          val t1 = System.nanoTime()
          val pruned = t.readRangeLogical("ts", lo, lo + 3L * 86400000000L).count()
          val wm = t.columnMaxMicros("ts")
          val readS = (System.nanoTime() - t1) / 1e9
          val probes = GraftTable.footerProbeCount.get() - probes0
          println(f"  append_commit        $commitS%8.2f s  json=${jsonBytes}B refs=$chunkRefs")
          println(f"  tiny_append_warm     $tinyS%8.2f s  (median of 3; 1-file delta — assembly cost)")
          println(f"  pruned_read+wm       $readS%8.2f s  rows=$pruned wm=${wm.isDefined} footer_probes=$probes")
        }
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
      }
      spark.stop()
      return
    }

    // SPARK_GRAFT_PROBE=mat: the materializer scale probe. Each replica
    // copy SHIFTS ts by 31 days, so the fact table's TIME SPAN (and row
    // count) grows k× while the straggler window stays a fixed 3-day
    // slice near the end — exactly the steady-state regime of the M4–M6
    // claim. The repair run's cost must stay ~flat as k grows (its
    // passes read only the affected window via FactBound source pruning
    // + footer file-skipping on the time-ordered appends); the first-run
    // CTAS is the expected O(table) contrast. Source files are written
    // time-ordered (repartitionByRange on ts), as streaming ingestion
    // lands them in production — that ordering is what gives footer
    // pruning its bite.
    if (sys.env.get("SPARK_GRAFT_PROBE").contains("mat")) {
      import graft.materialize.Materializer
      import graft.operators.MaterializeOps
      import graft.tables.{TableCatalog, TableDef}
      // the SAME view definition the m4/m6 oracle rows run — the probe
      // must measure the shipped operator, not a lookalike
      val eventsSchema = MaterializeOps.eventsSchema
      val matSchema = MaterializeOps.matSchema
      val view = MaterializeOps.hourlyView
      def once[A](label: String)(f: => A): Double = {
        val t0 = System.nanoTime(); f; val s = (System.nanoTime() - t0) / 1e9
        println(f"  $label%-22s $s%8.2f s"); s
      }
      val rows = for (k <- Seq(1, 10, 30, 100)) yield {
        val dir = s"$outRoot/mat_x$k"
        buildEventsReplica(spark, sfDir, dir, k)
        val ev = spark.read.parquet(s"$dir/events.parquet")
        val maxTs = ev.agg(max(col("ts"))).collect().head.getTimestamp(0)
        val cutoff = new java.sql.Timestamp(maxTs.getTime - 5L * 86400000)
        val lateLo = new java.sql.Timestamp(maxTs.getTime - 20L * 86400000)
        val lateHi = new java.sql.Timestamp(maxTs.getTime - 17L * 86400000)
        val late = col("ts") >= lit(lateLo) && col("ts") < lit(lateHi) &&
          col("event_id") % 7 === 0
        val whRoot = s"$dir/wh"
        val p = Paths.get(whRoot)
        if (Files.exists(p))
          Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(f => Files.delete(f))
        val cat = new TableCatalog(spark, whRoot, Seq(
          TableDef("src", eventsSchema),
          TableDef("mat", matSchema, keys = Seq("window_start", "event_type")),
          Materializer.watermarkTableDef))
        val src = cat.table("src")
        val mzr = new Materializer(spark, src, view, cat.table("mat"),
          cat.table("materialization_watermarks"))
        val nRows = ev.count()
        println(s"== mat ${k}x ($nRows rows) ==")
        src.append(ev.filter(col("ts") < lit(cutoff) && !late))
        val ctas = once("ctas_first_run")(mzr.run())
        src.append(ev.filter(col("ts") >= lit(cutoff) || late))
        // stragglers sit 17-20 days back — beyond the 48 h lookback, so
        // the run exercises lookback + append + stale repair, all bounded
        // by the FIXED 21-day detection window while the table grows k x
        val repair = once("repair_run")(
          mzr.run(lookback = "48 hours", staleDetectionWindow = Some("21 days")))
        (k, nRows, ctas, repair)
      }
      println("\n| k | rows | first run (CTAS) | repair run |")
      rows.foreach { case (k, n, c, r) => println(f"| ${k}x | $n | $c%.2f s | $r%.2f s |") }
      spark.stop()
      return
    }

    // SPARK_GRAFT_PROBE=cdc: the changelog-consumer + MOR-delete scale
    // probe. Claims under test: (a) CdcAggConsumer.poll() is O(delta) —
    // a FIXED-size appended batch folds in ~flat time while the source
    // table grows k× (the consumer reads only the commit's files and
    // rewrites only the group-cardinality-sized target); rebuild() is
    // the O(table) contrast and must grow with k. (b) deleteKeys is
    // O(keys) — the tombstone commit time stays flat at any table size,
    // and the tombstoned read pays only a bounded premium over the
    // plain merge read (the Window already paid by multi-sequence MOR).
    if (sys.env.get("SPARK_GRAFT_PROBE").contains("cdc")) {
      import graft.materialize.CdcAggConsumer
      import graft.tables.{TableCatalog, TableDef}
      import org.apache.spark.sql.types._
      val eventsSchema = graft.operators.MaterializeOps.eventsSchema
      val aggSchema = StructType(Seq(
        StructField("event_type", StringType),
        StructField("n", LongType),
        StructField("cents", LongType)))
      def once[A](label: String)(f: => A): Double = {
        val t0 = System.nanoTime(); f; val s = (System.nanoTime() - t0) / 1e9
        println(f"  $label%-22s $s%8.2f s"); s
      }
      // the FIXED delta: one day of base-scale events, re-keyed so it
      // appends cleanly at any k — identical bytes folded at every scale
      val base = Tables(spark, sfDir).events
        .select("event_id", "ts", "user_id", "event_type", "value")
      val fixedDelta = base
        .filter(col("ts") < to_timestamp(lit("2024-01-02")))
        .withColumn("event_id", col("event_id") + lit(900_000_000_000L))
      val nDelta = fixedDelta.count()
      val rows = for (k <- Seq(1, 10, 30, 100)) yield {
        val dir = s"$outRoot/cdc_x$k"
        buildEventsReplica(spark, sfDir, dir, k)
        val ev = spark.read.parquet(s"$dir/events.parquet")
        val whRoot = s"$dir/wh"
        val p = Paths.get(whRoot)
        if (Files.exists(p))
          Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(f => Files.delete(f))
        val cat = new TableCatalog(spark, whRoot, Seq(
          TableDef("src", eventsSchema),
          TableDef("agg", aggSchema, keys = Seq("event_type")),
          TableDef("mord", eventsSchema, keys = Seq("event_id"), mergeOnRead = true)))
        val src = cat.table("src")
        val consumer = new CdcAggConsumer(spark, src, cat.table("agg"),
          Seq("event_type"), "value")
        val nRows = ev.count()
        println(s"== cdc ${k}x ($nRows rows, delta $nDelta) ==")
        src.append(ev)
        val first = once("initial_fold")(consumer.poll()) // O(table), contrast
        src.append(fixedDelta)
        val poll = once("fixed_delta_poll")(consumer.poll()) // must stay ~flat
        val rebuild = once("rebuild_contrast")(consumer.rebuild()) // O(table)
        // MOR equality delete: fixed 1000-key tombstone on a k×-grown table
        val mord = cat.table("mord")
        mord.upsert(ev)
        def noop(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("noop").mode("overwrite").save()
        val readPlain = once("mor_read_plain")(noop(mord.readLogical()))
        val del = once("mor_delete_commit")( // must stay ~flat
          mord.deleteKeys(ev.limit(1000)))
        val readTomb = once("mor_read_tombstoned")(noop(mord.readLogical()))
        (k, nRows, first, poll, rebuild, readPlain, del, readTomb)
      }
      println("\n| k | rows | initial fold | fixed-delta poll | rebuild | mor read | delete commit | tombstoned read |")
      rows.foreach { case (k, n, f, pl, rb, rp, d, rt) =>
        println(f"| ${k}x | $n | $f%.2f s | $pl%.2f s | $rb%.2f s | $rp%.2f s | $d%.2f s | $rt%.2f s |") }
      spark.stop()
      return
    }

    // SPARK_GRAFT_PROBE=posdel: the position-delete scale probe (round
    // 14). Claims under test on a k×-grown sorted events table, deleting
    // a FIXED one-day error slice (the replica shifts ts, so the slice
    // stays fixed-size while the table grows):
    //  (a) pruned deleteWhere reads O(window) and writes O(matches) —
    //      its commit time must stay ~flat as k grows, while the
    //      unpruned form is scan-shaped (the honest contrast) and
    //      replaceWhere with the same prune still REWRITES the touched
    //      window (strictly more write than the tombstone);
    //  (b) the tombstoned read pays only a bounded broadcast-anti-join
    //      premium over the plain read;
    //  (c) compact after the delete rewrites ONLY the files the
    //      tombstones reference — ~flat as k grows.
    if (sys.env.get("SPARK_GRAFT_PROBE").contains("posdel")) {
      import graft.tables.{RangePrune, TableCatalog, TableDef}
      val eventsSchema = graft.operators.MaterializeOps.eventsSchema
      def once[A](label: String)(f: => A): Double = {
        val t0 = System.nanoTime(); f; val s = (System.nanoTime() - t0) / 1e9
        println(f"  $label%-24s $s%8.2f s"); s
      }
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val dayLo = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
      val dayHi = java.sql.Timestamp.valueOf("2024-01-03 00:00:00")
      val cond = col("event_type") === "error" &&
        col("ts") >= lit(dayLo) && col("ts") < lit(dayHi)
      val prune = Some(RangePrune("ts", dayLo.getTime * 1000L, dayHi.getTime * 1000L))
      val rows = for (k <- Seq(1, 10, 30)) yield {
        val dir = s"$outRoot/pd_x$k"
        buildEventsReplica(spark, sfDir, dir, k)
        val ev = spark.read.parquet(s"$dir/events.parquet")
        val whRoot = s"$dir/whpd"
        val p = Paths.get(whRoot)
        if (Files.exists(p))
          Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(f => Files.delete(f))
        // ts-sorted appends (the streaming-ingest layout) are what give
        // the pruned delete its footer file-skip; three tables so each
        // strategy starts from the identical layout
        val cat = new TableCatalog(spark, whRoot, Seq(
          TableDef("t_pruned", eventsSchema, sortOrder = Seq("ts")),
          TableDef("t_full", eventsSchema, sortOrder = Seq("ts")),
          TableDef("t_replace", eventsSchema, sortOrder = Seq("ts"))))
        val nRows = ev.count()
        println(s"== posdel ${k}x ($nRows rows) ==")
        Seq("t_pruned", "t_full", "t_replace").foreach(n => cat.table(n).append(ev))
        val tp = cat.table("t_pruned")
        val tf = cat.table("t_full")
        val tr = cat.table("t_replace")
        val readPlain = once("read_plain")(noop(tp.readLogical()))
        val delPruned = once("pos_delete_pruned")(tp.deleteWhere(cond, prune))
        val delFull = once("pos_delete_unpruned")(tf.deleteWhere(cond))
        val readTomb = once("read_tombstoned")(noop(tp.readLogical()))
        // probe-scale target (files are MBs here, not 128 MB): carry vs
        // rewrite must be decided by tombstone references, not by every
        // file being "small"
        val comp = once("compact_touched")(tp.compact(targetBytes = 256L * 1024))
        val repl = once("replace_pruned_contrast")(tr.replaceWhere(cond,
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            eventsSchema), prune))
        (k, nRows, readPlain, delPruned, delFull, readTomb, comp, repl)
      }
      println("\n| k | rows | plain read | pruned delete | unpruned delete | tombstoned read | compact | pruned replace |")
      rows.foreach { case (k, n, rp, dp, df, rt, c, r) =>
        println(f"| ${k}x | $n | $rp%.2f s | $dp%.2f s | $df%.2f s | $rt%.2f s | $c%.2f s | $r%.2f s |") }
      spark.stop()
      return
    }

    // SPARK_GRAFT_PROBE=twin: the streamed-twin protocol probe. The
    // twin rows' bench cost is claimed to be FIXED protocol overhead
    // (staging write, micro-batch planning, exactly-once commits,
    // serve-time probes) rather than data cost — so their wall time at
    // 10x the corpus must stay near 1x. Also probes j13 (the bucketed
    // fact-to-fact range join) on 1x/10x/100x events: the rewrite's
    // claim is work ∝ matches through a keyed join, so the curve must
    // track the scan-shaped stages, never the naive O(|P|·|E|).
    if (sys.env.get("SPARK_GRAFT_PROBE").contains("twin")) {
      val twins = Seq(
        "lm_ingest_scores" -> streaming.IngestOracleOps.lmIngestScores,
        "keepbest_ingest_resolve" -> streaming.IngestOracleOps.keepbestIngestResolve,
        "bm25_ingest_topk" -> streaming.IngestOracleOps.bm25IngestTopk,
        "ann_ingest_topk" -> streaming.IngestOracleOps.annIngestTopk,
        "neardup_ingest_pairs" -> streaming.IngestOracleOps.neardupIngestPairs,
        // the gate twin genuinely re-computes per-batch stats, so its
        // curve should track dedup_substring_cut's work-proportional
        // shape, not the protocol-flat twins'
        "substring_ingest_cut" -> streaming.IngestOracleOps.substringIngestCut,
        // DSIR twin: per-batch APPENDS are capped at 4096 rows, but the
        // per-batch feature explode + bucket agg scans every doc (the
        // LM twin only tokenizes the trusted quarter), so the curve is
        // work-proportional like the substring gate, not protocol-flat
        // (measured 3.31 -> 10.71 s at 10x — sublinear, no pathology)
        "dsir_ingest_scores" -> streaming.IngestOracleOps.dsirIngestScores)
      val twinRows = for (k <- Seq(1, 10)) yield {
        val dir = s"$outRoot/x$k"
        buildReplica(spark, sfDir, dir, k)
        buildEmbReplica(spark, sfDir, dir, k)
        println(s"== twin ${k}x ==")
        k -> twins.map { case (l, q) => timed(spark, l)(
          q.fn(spark, dir).write.format("noop").mode("overwrite").save()) }
      }
      val j13Rows = for (k <- Seq(1, 10, 100)) yield {
        val dir = s"$outRoot/ev_x$k"
        buildEventsReplica(spark, sfDir, dir, k)
        println(s"== j13 ${k}x ==")
        k -> timed(spark, "j13_range_join_facts")(
          operators.RelationalOps.j13RangeJoinFacts.fn(spark, dir)
            .write.format("noop").mode("overwrite").save())._2
      }
      println("\n| stage | " + twinRows.map(r => s"${r._1}x |").mkString(" "))
      twins.map(_._1).zipWithIndex.foreach { case (l, i) =>
        println(s"| $l | " + twinRows.map(r => f"${r._2(i)._2}%.2f s |").mkString(" "))
      }
      println("| j13_range_join_facts | " +
        j13Rows.map { case (k, s) => f"${k}x $s%.2f s |" }.mkString(" "))
      spark.stop()
      return
    }

    // SPARK_GRAFT_PROBE=rtb: the RTB fact-path probe. Three families:
    //  - the testdata funnel joins (j3 chained-semi, j7 chain) and the
    //    streamed maintenance protocols (a7 upsert twin, w3 watermark
    //    twin) over k× events — j3/j7 are per-stage semi-joins + one
    //    aggregation, so their curve must track the scan; a7/w3 are
    //    claimed protocol-flat-PLUS-scan (per-batch commit cost fixed,
    //    state bounded by windows-per-span × types, which the 31-day
    //    replica shift keeps k-growing while per-hour density is fixed);
    //  - the widest reference view (v_event_enriched_full_funnel's
    //    16-join enrichment) over a GENUINELY k× generated OpenRTB
    //    fixture (RtbGenerator at k×N over a k× span — real nested
    //    events, not replicas): every dim join must stay broadcast and
    //    the fact stream must shuffle only on its funnel keys, so the
    //    curve must track the fact scan.
    // SPARK_GRAFT_PROBE=sfun: the STREAMED funnel hot-key leg (the
    // VERDICT r11 #3 question). The batch j3/j7 semi-joins were made
    // hot-key-safe by the bucket-striped rewrite; this leg drives the
    // STATEFUL operator path — FunnelState.funnelViewSummary
    // (flatMapGroupsWithState keyed by user_id) — over the same 10×
    // benign vs 10×+hot events (one bot user on 10% of ALL rows), via
    // a MemoryStream replay in ts order with a coarse watermark cadence
    // (each trigger matures ~a cadence-worth of the bot's buffer, the
    // adversarial per-trigger regime). The claim under test: per-trigger
    // match work is sort + output-sized (MatchBuf range search), so the
    // hot drain must stay near the benign drain — never the
    // finalized-views × buffered-events product of a linear scan.
    if (sys.env.get("SPARK_GRAFT_PROBE").contains("sfun")) {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import streaming.FunnelState
      buildEventsReplica(spark, sfDir, s"$outRoot/ev_x10", 10)
      val legs = Seq(
        "benign_10x" -> s"$outRoot/ev_x10",
        "hot_10x" -> ensureHotEvents(spark, sfDir, outRoot))
      val nBatches = 8
      def drain(evs: Array[FunnelState.FunnelEvent], flushTs: java.sql.Timestamp)(
          summary: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Dataset[_]): Unit = {
        implicit val sqlCtx = spark.sqlContext
        import spark.implicits._
        val src = MemoryStream[FunnelState.FunnelEvent]
        val ck = Files.createTempDirectory("graft_sfun_ck")
        val q = summary(src.toDF()).writeStream
          .outputMode("append")
          .option("checkpointLocation", ck.toString)
          .format("noop").start()
        try {
          evs.grouped(evs.length / nBatches + 1).foreach { g =>
            src.addData(g.toIndexedSeq); q.processAllAvailable()
          }
          // sentinel advances the watermark past every view's horizon
          // so the drain includes ALL finalization work
          src.addData(FunnelState.FunnelEvent(-1L, "flush", -1L, flushTs))
          q.processAllAvailable()
        } finally {
          q.stop()
          // state-store checkpoints for a 1M-event replay are large;
          // repeated probe runs must not accumulate them in /tmp
          FsUtil.deleteRecursively(ck)
        }
      }
      val rows = legs.flatMap { case (label, dir) =>
        // driver-side replay set: (event_id, epoch-ms, user, type) — the
        // collect is probe scaffolding (bounded by the replica size),
        // not an engine pattern
        val evs = spark.read.parquet(s"$dir/events.parquet")
          .select(col("event_id"), col("ts").cast("timestamp"),
            col("user_id"), col("event_type"))
          .collect()
          .map(r => FunnelState.FunnelEvent(r.getLong(2), r.getString(3),
            r.getLong(0), r.getTimestamp(1)))
          .sortBy(_.ts.getTime)
        val flushTs = new java.sql.Timestamp(
          evs.last.ts.getTime + FunnelState.HorizonMs + 120000L)
        // both stateful operators share the MatchBuf core; the tws leg
        // additionally exercises RocksDB column-family state (the
        // off-heap path the 100 TB story leans on for hot-key buffers)
        Seq(
          s"fmgws($label)" -> timed(spark, s"fmgws($label)")(
            drain(evs, flushTs)(FunnelState.funnelViewSummary))._2,
          s"tws($label)" -> timed(spark, s"tws($label)")(
            streaming.FunnelTws.withRocksDb(spark)(
              drain(evs, flushTs)(streaming.FunnelTws.funnelViewSummary)))._2)
      }
      println("\n| leg | drain |")
      rows.foreach { case (l, s) => println(f"| $l | $s%.2f s |") }
      spark.stop()
      return
    }

    if (sys.env.get("SPARK_GRAFT_PROBE").contains("rtb")) {
      val evStages = Seq[(String, Tables => org.apache.spark.sql.DataFrame)](
        "j3_funnel_4stage" -> (t => operators.FunnelOps.j3Funnel4Stage.fn(t.spark, t.dir)),
        "j7_funnel_chain" -> (t => operators.FunnelOps.j7FunnelChain.fn(t.spark, t.dir)),
        "a7_hourly_upsert" -> (t => streaming.IngestOracleOps.a7HourlyUpsert.fn(t.spark, t.dir)),
        "w3_watermark_drop" -> (t => streaming.IngestOracleOps.w3WatermarkDrop.fn(t.spark, t.dir)))
      val evRows = for (k <- Seq(1, 10, 100)) yield {
        val dir = if (k == 1) sfDir else s"$outRoot/ev_x$k"
        buildEventsReplica(spark, sfDir, dir, k)
        println(s"== rtb events ${k}x ==")
        k -> evStages.map { case (l, fn) => timed(spark, l)(
          fn(Tables(spark, dir)).write.format("noop").mode("overwrite").save()) }
      }
      // hot-key leg: the 10x events table with ONE user remapped onto
      // 10% of ALL rows — j3/j7 must stay near the benign 10x cost
      // (their semi-join work is linear per key; FunnelSkewSpec pins
      // the shape and row-level semantics)
      val hotDir = ensureHotEvents(spark, sfDir, outRoot)
      println("== rtb events 10x HOT KEY ==")
      val hotRows = Seq("j3_funnel_4stage", "j7_funnel_chain").map { l =>
        val q = evStages.find(_._1 == l).get._2
        timed(spark, s"$l(hot)")(
          q(Tables(spark, hotDir)).write.format("noop").mode("overwrite").save())
      }
      val ffRows = for (k <- Seq(1, 10, 100)) yield {
        val dir = s"$outRoot/rtb_x$k"
        // parameter-pinned marker (the RtbOracleOps discipline): EVERY
        // generation parameter — seed, N, start, span, rates — is in the
        // name, and the dir is wiped (stale markers included) before a
        // regenerate, so editing a parameter and later reverting can
        // never find an old marker and silently reuse data generated
        // under the other values (ADVICE r11 #1: the partial-key trap)
        val ffMarker = Paths.get(
          s"$dir/_complete-987654321-${1500 * k}-1704103200000-${3L * 3600 * 1000 * k}-dup03x4")
        if (!Files.exists(ffMarker)) {
          FsUtil.deleteRecursively(Paths.get(dir))
          // same seed/rates as the oracle fixture, k× the traffic over a
          // k× span (fixed per-hour density — the steady-state regime)
          val funnel = gen.RtbGenerator.generate(987654321L, 1500 * k,
            1704103200000L, 3L * 3600 * 1000 * k,
            gen.RtbGenerator.Rates(dupRequest = 0.03, dupResponse = 0.03,
              dupImpression = 0.03, dupClick = 0.03))
          import spark.implicits._
          spark.createDataset(funnel.requests).repartition(math.max(4, k))
            .write.mode("overwrite").parquet(s"$dir/requests")
          spark.createDataset(funnel.responses).repartition(math.max(4, k))
            .write.mode("overwrite").parquet(s"$dir/responses")
          spark.createDataset(funnel.impressions).repartition(math.max(4, k))
            .write.mode("overwrite").parquet(s"$dir/impressions")
          spark.createDataset(funnel.clicks).repartition(math.max(4, k))
            .write.mode("overwrite").parquet(s"$dir/clicks")
          Files.createFile(ffMarker) // the commit: written after all four slices
          println(s"built ${k}x rtb fixture at $dir (${1500 * k} requests)")
        }
        println(s"== rtb full-funnel ${k}x ==")
        k -> timed(spark, "v_full_funnel_enriched")(
          operators.RtbOracleOps.fullFunnelEnriched(spark, dir)
            .write.format("noop").mode("overwrite").save())._2
      }
      println("\n| stage | " + evRows.map(r => s"${r._1}x |").mkString(" "))
      evStages.map(_._1).zipWithIndex.foreach { case (l, i) =>
        println(s"| $l | " + evRows.map(r => f"${r._2(i)._2}%.2f s |").mkString(" "))
      }
      println("| v_full_funnel_enriched | " +
        ffRows.map { case (k, s) => f"${k}x $s%.2f s |" }.mkString(" "))
      println("| hot-key (10x+hot) | " +
        hotRows.map { case (l, s) => f"$l $s%.2f s |" }.mkString(" "))
      spark.stop()
      return
    }

    val annProbe = sys.env.get("SPARK_GRAFT_PROBE").contains("ann")
    val embRows = scala.collection.mutable.Map[String, Long]()
    val stages =
      if (annProbe) Seq[(String, Tables => org.apache.spark.sql.DataFrame)](
        "ann_lsh_topk" -> (t => functions.AnnOps.annLshTopk.fn(t.spark, t.dir)),
        "ann_ivf_topk" -> (t => functions.AnnOps.annIvfTopk.fn(t.spark, t.dir)),
        "ann_pq_adc" -> (t => functions.AnnOps.annPqAdc.fn(t.spark, t.dir)),
        "ann_ivfpq_topk" -> (t => functions.AnnOps.annIvfPq.fn(t.spark, t.dir)),
        "cm_heavy_hitters" -> (t => functions.SketchOps.cmHeavyHitters.fn(t.spark, t.dir)),
        // retrieval: BM25's tf/df/dl aggregates + fixed top-k must scale
        // like the scan (the word-prefix in replicas splits away under
        // the [^a-z]+ tokenizer, so every copy feeds the same terms —
        // tf and df grow k×, which IS the growing-corpus regime);
        // kmeans_refine is one Lloyd pass — a broadcast assignment scan
        // plus a C×d-bounded aggregate, the flattest curve here
        "bm25_topk" -> (t => functions.SearchOps.bm25Topk.fn(t.spark, t.dir)),
        "kmeans_refine" -> (t => functions.AnnOps.kmeansRefine.fn(t.spark, t.dir)),
        // SemDeDup with the deployment-shaped cell count (k ∝ N/500):
        // fixed-k is only for the oracle; bounded per-cell occupancy is
        // the property under test here. The count() is memoized per dir
        // (and absorbed by the warm-up pass), so the TIMED runs never
        // pay it. (Catalyst exposes no rowCount for a plain parquet
        // read without CBO stats — a count job is the honest source.)
        "dedup_semantic" -> (t => {
          val emb = t.spark.read.parquet(s"${t.dir}/embeddings.parquet")
          val cells = math.max(16,
            (embRows.getOrElseUpdate(t.dir, emb.count()) / 500L).toInt)
          functions.DedupOps.semanticDedup(emb, cells, 0.4)
        }))
      else Seq[(String, Tables => org.apache.spark.sql.DataFrame)](
        "dedup_exact" -> (t => functions.DedupOps.dedupExact.fn(t.spark, t.dir)),
        "dedup_minhash_lsh" -> (t => functions.DedupOps.dedupMinhashLsh.fn(t.spark, t.dir)),
        "dedup_ngram_jaccard" -> (t => functions.DedupOps.dedupNgramJaccard.fn(t.spark, t.dir)),
        "dedup_simhash_pairs" -> (t => functions.DedupOps.dedupSimhashPairs.fn(t.spark, t.dir)),
        "dedup_clusters" -> (t => functions.DedupOps.dedupClusters.fn(t.spark, t.dir)),
        // exact-substring spans: the window hashes and the dup-count
        // groupBy grow k× with the corpus (replica word-prefixes keep
        // copies from colliding, so dup structure replicates too); the
        // curve should track dedup_exact's shape, not the pair ops'
        "dedup_substring_spans" -> (t => functions.DedupOps.dedupSubstringSpans.fn(t.spark, t.dir)),
        // LM scoring: the token stream grows k× but the dictionaries
        // stay O(train vocab) (replica word-prefixes add new words at a
        // constant factor) — the curve should track the scan-shaped
        // stages, not the pair ops'
        "text_lm_score" -> (t => functions.TextOps.textLmScore.fn(t.spark, t.dir)),
        // classifier scoring: same dictionary-join shape as the LM but
        // unigram-only — the word stream grows k×, the dictionary
        // O(vocab); temperature sampling is a ≤|langs|-row broadcast
        // over a pure filter, the cheapest curve in the set
        "text_classifier_score" -> (t => functions.TextOps.textClassifierScore.fn(t.spark, t.dir)),
        "sample_temperature" -> (t => functions.TextOps.sampleTemperature.fn(t.spark, t.dir)),
        // priority-sampling reservoir: ONE k-bounded aggregate
        // (TopKPriorityAgg) — map tasks ship ≤k items per (task, lang),
        // so the exchange is layout-constant and the curve should be
        // pure scan shape at any corpus size or language skew
        "sample_reservoir" -> (t => functions.PrepOps.sampleReservoir.fn(t.spark, t.dir)),
        // repetition metrics: a per-row sorted-run fold after the
        // round-9 rewrite — ZERO shuffled bytes, so the curve should be
        // the purest work-proportional scan shape in the set (the old
        // explode → histogram → join form shuffled every corpus bigram)
        "text_repetition" -> (t => functions.CorpusOps.textRepetition.fn(t.spark, t.dir)),
        // BPE pair counting: the corpus-sized half of tokenizer
        // training — word-freq groupBy then an O(alphabet²) aggregate;
        // should track dedup_exact's scan-shaped curve
        "bpe_pair_counts" -> (t => functions.BpeOps.bpePairCounts.fn(t.spark, t.dir)),
        // DSIR importance scoring: two corpus scans + a 4096-key
        // partial agg + a broadcast λ table (layout-constant at any
        // corpus size, unlike a vocabulary) — the curve should track
        // the classifier's dictionary-join shape
        "sample_dsir" -> (t => functions.PrepOps.sampleDsir.fn(t.spark, t.dir)))

    // sf0.1 is only 5k docs — the 1×..10× range turned out to be fully
    // overhead-dominated on local[32] (flat ~0.3-3 s per stage), so the
    // probe climbs to 30×/100× (150k/500k docs) where real work shows.
    // SPARK_GRAFT_PROBE_ONLY (regex) narrows the stage list — a new
    // operator's curve shouldn't cost a full 13-stage × 4-scale sweep.
    val stageOnly = sys.env.get("SPARK_GRAFT_PROBE_ONLY").map(_.r)
    val stagesRun = stages.filter { case (l, _) =>
      stageOnly.forall(_.findFirstIn(l).isDefined) }
    // The ANN probe stops at 30× (embeddings are 50k vectors at 1×, so
    // 30× is already 1.5M 64-dim candidates).
    val ks = if (annProbe) Seq(1, 10, 30) else Seq(1, 10, 30, 100)
    val results = for (k <- ks) yield {
      val dir = if (k == 1) sfDir else s"$outRoot/x$k"
      if (k > 1) {
        if (annProbe) { buildReplica(spark, sfDir, dir, k); buildEmbReplica(spark, sfDir, dir, k) }
        else buildReplica(spark, sfDir, dir, k)
      }
      println(s"== ${k}x ==")
      k -> stagesRun.map { case (label, fn) =>
        timed(spark, label)(
          fn(Tables(spark, dir)).write.format("noop").mode("overwrite").save())
      }
    }

    println("\n| stage | " + results.map(r => s"${r._1}x").mkString(" | ") + " |")
    val labels = stagesRun.map(_._1)
    for ((label, i) <- labels.zipWithIndex)
      println(s"| $label | " +
        results.map(r => f"${r._2(i)._2}%.2f s").mkString(" | ") + " |")
    spark.stop()
  }
}
