package graft.pipebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** The pipeline benchmark's JVM entry point (launched by `run.py`):
  *
  * {{{
  * Main --workload stream|serve --seed N --seconds S
  *      --trace 0|1 --work DIR --out DIR --cores C [--volume full|tiny]
  * }}}
  *
  * Prints human-readable report lines, then as its LAST stdout line one
  * JSON object `{"correct","attempted","failed","metrics"}`: end-to-end
  * metrics untraced, per-layer metrics traced. Exits 1 when any
  * correctness check or unit of work failed.
  */
object Main {

  /** Every A/B toggle and timing flag that would change what is measured. */
  val PinnedUnset: Seq[String] = Seq("GRAFT_TIMING", "GRAFT_WRITE_TIMING", "GRAFT_DEV_TIME",
    "SPARK_GRAFT_ONLY") ++ Seq("MINHASH", "SHINGLEHASH", "SIMHASH", "SIMHASH_PAIRS", "DOT", "ANN",
    "PQ", "LSH_BUCKET_CAP").map("SPARK_GRAFT_" + _)

  val EndToEnd: Seq[String] = Seq("setup_s", "latency_p50_s", "latency_p90_s",
    "throughput_per_s", "peak_jvm_mb")

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  /** Peak JVM memory in use: each heap and non-heap pool's peak use, summed.
    * The process's resident high-water mark would add native allocations
    * (codec buffers, compiler arenas) whose size swings by a third from run
    * to run on the same input.
    */
  private def peakJvmMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def json(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "seed").map(_.toLong).getOrElse(sys.error("--seed required"))
    val seconds = arg(args, "seconds").map(_.toInt).getOrElse(sys.error("--seconds required"))
    val traced = arg(args, "trace").contains("1")
    val work = arg(args, "work").getOrElse(sys.error("--work required"))
    val out = arg(args, "out").getOrElse(work)
    val cores = arg(args, "cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val tiny = arg(args, "volume").contains("tiny")

    val stray = PinnedUnset.filter(sys.env.contains)
    require(stray.isEmpty, s"pinned toggles must be unset: ${stray.mkString(", ")}")
    println(s"env: ${PinnedUnset.map(_ + "=<unset>").mkString(" ")}")
    println(s"host: cores=$cores heap=${Runtime.getRuntime.maxMemory >> 20}MB master=local[$cores]")

    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val meter = new SparkMeter
    spark.sparkContext.addSparkListener(meter)
    val trace = new Trace(traced, () => meter.counters())
    val ctx = Ctx(spark, work, seed, seconds, cores, tiny, trace, meter)

    val outcome = workload match {
      case "stream" => StreamWorkloads.run(ctx)
      case "serve" => Serve.run(ctx)
      case other => sys.error(s"unknown workload $other")
    }

    val e2e = outcome.e2e + ("peak_jvm_mb" -> (peakJvmMb, "MB"))
    val metrics: Seq[(String, (Double, String))] =
      if (!traced) EndToEnd.map(n => n -> e2e(n))
      else {
        val spans = trace.all.size
        val overhead = spans * trace.perSpanCostNs / 1e9
        Files.createDirectories(Paths.get(out))
        trace.write(Paths.get(out, s"trace-$workload-$seed.json"))
        val layers = outcome.layers ++ Map(
          "trace.spans" -> (spans.toDouble, "count"),
          "trace.overhead_s" -> (overhead, "s"))
        Layers.names.map { case (n, unit) => n -> layers.getOrElse(n, (0.0, unit)) }
      }

    outcome.notes.foreach(n => println(s"note: $n"))
    outcome.checks.foreach { case (n, ok) => println(s"check: ${if (ok) "PASS" else "FAIL"} $n") }
    e2e.toSeq.sortBy(_._1).foreach { case (n, (v, u)) => println(f"e2e: $n%-18s $v%.4f $u") }
    println(f"e2e: failed_frac        ${outcome.failed.toDouble / outcome.attempted}%.4f failed/attempted")
    if (traced) metrics.foreach { case (n, (v, u)) => println(f"layer: $n%-34s $v%.6f $u") }
    val correct = outcome.checks.forall(_._2) && outcome.failed == 0
    val body = metrics.map { case (n, (v, u)) => s""""$n": {"value": ${json(v)}, "unit": "$u"}""" }
    println(s"""{"correct": $correct, "attempted": ${outcome.attempted}, "failed": ${outcome.failed}, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}

/** The per-layer metric names and units every traced run reports (a
  * layer a workload does not touch reads 0).
  */
object Layers {
  val names: Seq[(String, String)] = Seq(
    "streaming.triggers" -> "count", "streaming.planning_s" -> "s", "streaming.wal_commit_s" -> "s",
    "streaming.commit_offsets_s" -> "s", "streaming.latest_offset_s" -> "s",
    "streaming.add_batch_s" -> "s", "streaming.trigger_p50_s" -> "s", "streaming.trigger_p90_s" -> "s",
    "streaming.state_rows" -> "count", "streaming.state_bytes" -> "B", "streaming.state_commit_s" -> "s",
    "spark.jobs_per_trigger" -> "ratio",
    "sources.decode_s" -> "s",
    "tables.commits" -> "count", "tables.files_added" -> "count", "tables.cas_retries" -> "count",
    "tables.bytes_added" -> "B", "tables.bytes_per_file" -> "B",
    "tables.stored_bytes_per_event" -> "B/event", "tables.footer_probes" -> "count",
    "tables.append_s" -> "s",
    "materialize.run_s" -> "s", "materialize.jobs" -> "count", "materialize.view_computes" -> "count",
    "operators.plan_s" -> "s", "operators.exec_s" -> "s") ++
    Serve.operatorNames.map(n => s"operators.${n}_s" -> "s") ++
    Seq("functions.plan_s" -> "s", "functions.exec_s" -> "s") ++
    Serve.FunctionRows.map(n => s"functions.${n}_s" -> "s") ++
    Seq("spark.executor_cpu_s" -> "s", "spark.core_util" -> "ratio",
      "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
      "spark.spill_bytes" -> "B", "spark.tasks" -> "count", "spark.gc_s" -> "s", "host.steal_s" -> "s",
      "gen.late_p90_s" -> "s", "gen.backlog_end_events" -> "count",
      "trace.coverage" -> "ratio", "trace.spans" -> "count", "trace.overhead_s" -> "s")
}
