package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev-only profiling main (not part of the driver contract): runs the
  * named queries exactly as Bench does (noop sink), with a listener that
  * records every Spark job's wall span. Prints, per query:
  *
  *   - total wall seconds;
  *   - seconds covered by Spark jobs (union of job spans, so overlapping
  *     concurrent jobs are not double-counted);
  *   - the residual driver-side gap (planning, commit-protocol fs ops,
  *     snapshot-log json churn, checkpoint bookkeeping) — the part the
  *     Spark UI never shows and the part that dominates multi-commit
  *     protocols at dev scale;
  *   - the top jobs by duration with their descriptions/call sites.
  *
  * Usage: sbt "runMain graft.ProfileBench <sfDir> <name1,name2,...>"
  */
object ProfileBench {

  private final case class JobSpan(id: Int, start: Long, var end: Long,
      desc: String)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args(1).split(",").toSeq
                else SparkEntry.registry.map(_.name)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = GraftSession.get(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // diagnostic knobs: GRAFT_PROF_CONF="k1=v1;k2=v2" sets session confs
    // before the run (e.g. spark.sql.adaptive.enabled=false) so a
    // hypothesis can be priced without touching GraftSession
    sys.env.get("GRAFT_PROF_CONF").foreach(_.split(";").foreach { kv =>
      if (kv.trim.nonEmpty) kv.split("=", 2) match {
        case Array(k, v) => spark.conf.set(k.trim, v)
        case _ => sys.error(s"GRAFT_PROF_CONF segment '$kv' lacks '=' " +
          "(expected k1=v1;k2=v2)")
      }
    })
    val sc = spark.sparkContext

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobSpan]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobs.put(e.jobId, JobSpan(e.jobId, e.time, -1L, desc))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val s = jobs.get(e.jobId)
        if (s != null) s.end = e.time
      }
    }
    sc.addSparkListener(listener)

    // warm-up identical to Bench
    Tables(spark, sfDir).lineitem.count()
    if (names.exists(n => graft.operators.RtbOracleOps.all.exists(_.name == n)))
      graft.operators.RtbOracleOps.warm(spark)

    val mainThread = Thread.currentThread()

    for (n <- names; q <- SparkEntry.registry.find(_.name == n)) {
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.sharedState.cacheManager.clearCache()
      jobs.clear()
      // 20 ms sampling of the MAIN thread: aggregate by the deepest
      // "interesting" frame (graft.* first, else the spark/parquet/fs
      // phase) so the driver-gap decomposes into real call sites.
      val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      @volatile var sampling = true
      val sampler = new Thread(() => {
        while (sampling) {
          val st = mainThread.getStackTrace
          if (st.nonEmpty) {
            // phase: the shallowest spark-internal frame that names what
            // the driver is doing right now (planning/codegen/commit/
            // waiting-on-job), independent of which graft call it's in
            val phase = st.collectFirst {
              case f if f.getClassName.contains("RuleExecutor") => "optimize(RuleExecutor)"
              case f if f.getClassName.contains("CodeGenerator") || f.getClassName.contains("janino") => "codegen"
              case f if f.getClassName.contains("CheckAnalysis") || f.getClassName.contains("Analyzer") => "analyze"
              case f if f.getClassName.contains("GraftParquetBridge") => "tableWrite"
              case f if f.getClassName.contains("GraftTable") && f.getMethodName == "writeStaged" => "writeCommit"
              case f if f.getClassName.contains("AdaptiveSparkPlanExec") => "aqe-drive"
              case f if f.getClassName.contains("DAGScheduler") && f.getMethodName == "runJob" => "jobWait"
              case f if f.getClassName.contains("awaitResult") || (f.getClassName.contains("ThreadUtils") && f.getMethodName.contains("await")) => "await"
              case f if f.getClassName.contains("ParquetFileReader") || f.getClassName.contains("ParquetFooterReader") => "parquetFooter"
              case f if f.getClassName.contains("InMemoryFileIndex") => "fileListing"
              case f if f.getClassName.contains("StreamExecution") || f.getClassName.contains("processAllAvailable") => "streamWait"
            }.getOrElse("other")
            val site = st.find(f => f.getClassName.startsWith("graft."))
              .map(f => s"${f.getClassName.stripPrefix("graft.")}.${f.getMethodName}:${f.getLineNumber}")
              .getOrElse("-")
            samples.merge(s"$phase | $site", 1, (a, b) => a + b)
          }
          // the micro-batch thread does the per-trigger planning for
          // streaming twins; attribute it the same way
          val tg = Thread.currentThread().getThreadGroup
          val all = Array.ofDim[Thread](Thread.activeCount() + 8)
          val nT = Thread.enumerate(all)
          var i = 0
          while (i < nT) {
            val t = all(i)
            if (t != null && t.getName.contains("stream execution thread")) {
              val st2 = t.getStackTrace
              val phase2 = st2.collectFirst {
                case f if f.getClassName.contains("RuleExecutor") => "sx:optimize"
                case f if f.getClassName.contains("CodeGenerator") || f.getClassName.contains("janino") => "sx:codegen"
                case f if f.getClassName.contains("Analyzer") => "sx:analyze"
                case f if f.getClassName.contains("GraftParquetBridge") ||
                  (f.getClassName.contains("GraftTable") && f.getMethodName == "writeStaged") => "sx:tableWrite"
                case f if f.getClassName.contains("StateStore") || f.getClassName.contains("HDFSBackedStateStore") => "sx:stateStore"
                case f if f.getClassName.contains("OffsetSeqLog") || f.getClassName.contains("CommitLog") || f.getClassName.contains("HDFSMetadataLog") => "sx:checkpointLog"
                case f if f.getClassName.contains("FileStreamSource") => "sx:fileSource"
                case f if f.getClassName.contains("DAGScheduler") && f.getMethodName == "runJob" => "sx:jobWait"
                case f if f.getClassName.contains("ProgressReporter") => "sx:progress"
                case f if f.getClassName.contains("MicroBatchExecution") => s"sx:microbatch.${st2.collectFirst { case g if g.getClassName.contains("MicroBatchExecution") => g.getMethodName }.getOrElse("?")}"
              }
              val site2 = st2.find(f => f.getClassName.startsWith("graft."))
                .map(f => s"${f.getClassName.stripPrefix("graft.")}.${f.getMethodName}:${f.getLineNumber}")
                .getOrElse("-")
              phase2.foreach(p => samples.merge(s"$p | $site2", 1, (a, b) => a + b))
            }
            i += 1
          }
          Thread.sleep(20)
        }
      }, "graft-profiler")
      sampler.setDaemon(true)
      sampler.start()
      val t0 = System.currentTimeMillis()
      val df = q.fn(spark, sfDir)
      val tPlan = System.currentTimeMillis()
      df.write.format("noop").mode("overwrite").save()
      val t1 = System.currentTimeMillis()
      sampling = false
      sampler.join(200)
      // union of job spans (clamped to the window)
      val spans = jobs.values().toArray(Array.ofDim[JobSpan](0))
        .filter(s => s.end > 0)
        .map(s => (math.max(s.start, t0), math.min(s.end, t1)))
        .filter(p => p._2 > p._1).sortBy(_._1)
      var covered = 0L
      var cursor = t0
      for ((s, e) <- spans) {
        if (e > cursor) { covered += e - math.max(s, cursor); cursor = math.max(cursor, e) }
      }
      val total = t1 - t0
      println(f"===== $n: total ${total / 1e3}%.2f s | build-side ${(tPlan - t0) / 1e3}%.2f s " +
        f"| job-covered ${covered / 1e3}%.2f s | driver-gap ${(total - covered) / 1e3}%.2f s " +
        f"| n_jobs ${spans.length}")
      val top = jobs.values().toArray(Array.ofDim[JobSpan](0))
        .filter(_.end > 0).sortBy(s => -(s.end - s.start)).take(8)
      for (s <- top)
        println(f"  job ${s.id}%4d  ${(s.end - s.start) / 1e3}%6.2f s  ${s.desc.take(110)}")
      val allRows = {
        val it = samples.entrySet().iterator()
        val b = Seq.newBuilder[(String, Int)]
        while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue.intValue()) }
        b.result()
      }
      val sampleRows = allRows.sortBy(-_._2).take(20)
      // denominator over ALL sampled sites, not just the printed top-20
      // (ADVICE r17: a large tail inflated the printed percentages)
      val nSamples = allRows.map(_._2).sum max 1
      for ((sig, c) <- sampleRows)
        println(f"  main ${c * 100.0 / nSamples}%5.1f%% (${c * 0.02}%5.2f s)  ${sig.take(120)}")
    }
    spark.stop()
  }
}
