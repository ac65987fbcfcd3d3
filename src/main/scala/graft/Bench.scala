package graft

/** Benchmark main. Runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line with per-query wall seconds. A query that throws
  * is recorded with `"failed":true` and its elapsed time EXCLUDED from the
  * total (a broken query must not "improve" the bench), and the process
  * exits nonzero so the driver sees the failure.
  */
object Bench {

  /** Nearest ancestor of `start` containing build.sbt — the repo root.
    * The committed artifact must land there no matter what CWD the
    * runner used (a CWD-relative write from a nested dir silently
    * strands the record outside git, ADVICE r10 #2). Falls back to
    * `start` itself when no build.sbt is found (e.g. a bare deploy).
    */
  private[graft] def repoRoot(start: java.nio.file.Path): java.nio.file.Path = {
    var p = start.toAbsolutePath.normalize()
    while (p != null && !java.nio.file.Files.exists(p.resolve("build.sbt")))
      p = p.getParent
    if (p == null) start.toAbsolutePath.normalize() else p
  }

  /** Per-query seconds from a bench JSON line; None if unparseable. */
  private[graft] def queryTimes(json: String): Option[Map[String, Double]] =
    try {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = m.readTree(json).get("queries")
      if (node == null || !node.isObject) None
      else {
        val b = Map.newBuilder[String, Double]
        node.fields().forEachRemaining(e => b += (e.getKey -> e.getValue.asDouble))
        Some(b.result())
      }
    } catch { case _: Throwable => None }

  /** The "sf" field of a bench JSON line; None if unparseable. */
  private[graft] def sfOf(json: String): Option[String] =
    jsonField(json, "sf")

  /** The "harness" field of a bench JSON line; None if unparseable. */
  private[graft] def harnessOf(json: String): Option[String] =
    jsonField(json, "harness")

  private def jsonField(json: String, field: String): Option[String] =
    try {
      val n = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(json).get(field)
      if (n == null) None else Some(n.asText())
    } catch { case _: Throwable => None }

  /** Whether a fresh full record may replace the committed artifact.
    * This host's wall-clock swings ±45% across windows on IDENTICAL
    * code (r9 311.6 s vs r10 215.7 s), so a throttled run must never
    * clobber the clean-window record: promote only when the new run was
    * measured at the SAME scale factor (an sf0.001 dev loop is
    * trivially "faster" than the committed sf0.1 record and must never
    * replace it) AND its shared-query sum is within `slack` (1.1×) of
    * the committed one — i.e. comparable-or-faster. A missing/corrupt
    * old artifact always promotes (there is nothing to protect).
    */
  private[graft] def shouldPromote(newJson: String, oldJson: Option[String],
      slack: Double = 1.1): Boolean = {
    val nw = queryTimes(newJson)
    val old = oldJson.flatMap(queryTimes)
    (nw, old) match {
      case (Some(n), Some(o)) =>
        // coverage first: a SPARK_GRAFT_ONLY-narrowed run is trivially
        // comparable on its few shared queries and would otherwise
        // replace the full per-query record with a subset — the very
        // truncation loss (round 8 kept 75 of 126 times) the committed
        // artifact exists to prevent
        sfOf(newJson) == sfOf(oldJson.get) &&
          // a count()-action attribution run is trivially "faster" than
          // a noop-sink record on the same queries — never comparable
          harnessOf(newJson) == harnessOf(oldJson.get) &&
          o.keySet.subsetOf(n.keySet) && {
            val shared = n.keySet intersect o.keySet
            if (shared.isEmpty) true
            else shared.iterator.map(n).sum <= slack * shared.iterator.map(o).sum
          }
      case _ => true
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = GraftSession.get(cpus)
    val sc = spark.sparkContext
    // Deterministic order; warm the session once so the first measured
    // query doesn't pay JVM/parquet-footer warm-up, and pre-generate the
    // RTB oracle fixture so no rtb_*/v_* query pays one-time generation
    // inside its timed window (it is a pure function of the seed — on a
    // fresh machine the first caller otherwise eats the full write).
    // SPARK_GRAFT_ONLY (regex) narrows the run for local A/B — per-query
    // timing in one JVM is the only comparison that beats the ±15%
    // between-run noise.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val defs = SparkEntry.registry.sortBy(_.name)
      .filter(q => only.forall(_.findFirstIn(q.name).isDefined))
    Tables(spark, sfDir).lineitem.count()
    if (defs.exists(d => graft.operators.RtbOracleOps.all.exists(_.name == d.name)))
      graft.operators.RtbOracleOps.warm(spark)

    // Per-query state hygiene, OUTSIDE the timed window (replaces the old
    // System.gc()+sleep(250) tick, which masked the debt rather than
    // retiring it and made builder and driver runs disagree by ~1.35x).
    // Order matters: the BLOCKING RDD-level unpersist runs FIRST — it
    // covers cached Datasets' underlying RDDs and localCheckpoint blocks
    // alike, and blocking is what makes the drop land before the next
    // timed window (this Spark's no-arg CacheManager.clearCache() issues
    // ASYNC block removals, which would leak eviction work into the next
    // query). clearCache() then reconciles the CacheManager registry so
    // no dead InMemoryRelation entry can silently un-cache a later
    // equivalent plan; its own unpersists are no-ops by then.
    def drainState(): Unit = {
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.sharedState.cacheManager.clearCache()
      if (sc.getPersistentRDDs.nonEmpty)
        // warn, don't abort: a leak taints timings but the per-query
        // record is still worth emitting for the round
        System.err.println(s"[bench] WARNING: ${sc.getPersistentRDDs.size} " +
          "persistent RDDs survived a blocking drain")
    }

    // Force FULL output materialization with the noop sink, not count():
    // count() lets Catalyst optimize the counting plan — a query ending
    // in a LEFT JOIN against an aggregate keyed uniquely (the
    // per-doc-diagnostics tail several corpus operators share) has the
    // join ELIMINATED and the whole pipeline pruned to a metadata scan,
    // so the recorded time measures nothing (observed: substring-span
    // dedup flat at 0.2 s from 1x to 100x corpus). The noop sink
    // consumes every output row and column — what a real consumer pays
    // — with no write cost.
    val results = defs.map { q =>
      drainState()
      val t0 = System.nanoTime()
      val ok =
        try {
          q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          true
        }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] ${q.name} FAILED: ${e.getMessage}")
            false
        }
      (q.name, (System.nanoTime() - t0) / 1e9, ok)
    }
    val qs = results.map { case (k, v, _) => f""""$k":$v%.3f""" }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false) => s""""$k"""" }
      .mkString("[", ",", "]")
    val nFailed = results.count(!_._3)
    val total = results.collect { case (_, v, true) => v }.sum
    // "harness":"noop-sink" marks the round-8 action change (count() →
    // full noop-sink materialization): numbers before the mark
    // undercount any query whose tail Catalyst could prune under
    // count(), so cross-round per-query ratios are only meaningful
    // within the same harness mark.
    // Provenance: every record carries the HEAD commit + UTC run
    // timestamp so a round artifact is self-evidently a fresh run, not
    // a hand-edit (VERDICT r11 #4). Additive fields — the driver reads
    // metric/value/queries and ignores the rest.
    val root = repoRoot(java.nio.file.Paths.get(sys.props("user.dir")))
    def gitOut(args: String*): Option[String] =
      try {
        val p = new ProcessBuilder(("git" +: args): _*)
          .directory(root.toFile).redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes()).trim
        if (p.waitFor() == 0) Some(out) else None
      } catch { case _: Throwable => None }
    // a dirty worktree gets "-dirty" suffixed: a bench of uncommitted
    // code must not carry a commit hash it does not correspond to (the
    // field exists to prove "fresh run of THIS code, not a hand-edit")
    val commit = gitOut("rev-parse", "HEAD")
      .filter(_.matches("[0-9a-f]{40}"))
      .map { h =>
        val dirty = gitOut("status", "--porcelain").exists(_.nonEmpty)
        if (dirty) s"$h-dirty" else h
      }
      .getOrElse("unknown")
    val runTs = java.time.Instant.now().toString
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","harness":"noop-sink","queries":$qs,"sf":"$sfDir","n_queries":${results.size},"failed":$failed,"commit":"$commit","ts":"$runTs"}"""
    println(json)
    // Also write the full record to a COMMITTED artifact: the driver's
    // stdout scrape truncates long tails (round 5 lost the first
    // queries, round 8 kept only ~75 of 126 per-query times), so
    // cross-round A/Bs need a file that always carries the complete
    // map. Stdout stays the contract; BENCH_FULL.json is the
    // untruncated copy, tracked in git so every round's full per-query
    // record survives in history. The artifact path resolves against
    // the REPO ROOT (not CWD), every run also keeps a timestamped copy
    // under target/bench/ (gitignored — the audit trail without repo
    // litter), and a run only PROMOTES itself over the committed file
    // when it is comparable-or-faster on the shared queries — a
    // throttled window must not silently destroy the clean record
    // (this host swings ±45% on identical code; see shouldPromote).
    val histDir = root.resolve("target/bench")
    java.nio.file.Files.createDirectories(histDir)
    val ts = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss")
      .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())
    // pid in the name: two runs starting within the same second must not
    // overwrite each other's audit record (ADVICE r11 #3); prune to the
    // most recent 50 so the dir doesn't grow without bound across dev
    // loops (history survives in the committed artifact + git anyway)
    val pid = ProcessHandle.current().pid()
    val histFile = histDir.resolve(s"BENCH_FULL.$ts.$pid.json")
    java.nio.file.Files.writeString(histFile, json + "\n")
    try {
      val listing = java.nio.file.Files.list(histDir)
      val records =
        try listing.filter(p => p.getFileName.toString.startsWith("BENCH_FULL."))
          .sorted().toArray(Array.ofDim[java.nio.file.Path](_))
        finally listing.close()
      records.dropRight(50).foreach(java.nio.file.Files.deleteIfExists(_))
    } catch { case _: Throwable => () } // pruning is best-effort hygiene
    sys.env.get("SPARK_GRAFT_BENCH_OUT") match {
      case Some(out) =>
        // an EXPLICIT destination is the caller's contract (the driver's
        // round artifact, the A/B harness's per-run record) — always
        // written, never gated, or the caller silently reads stale data.
        // A RELATIVE destination resolves against the repo root, same as
        // the default artifact — CWD-relative was the original stranding
        // bug (ADVICE r10 #2) and must not survive on this path either.
        java.nio.file.Files.writeString(root.resolve(out), json + "\n")
      case None =>
        // the committed default artifact is promote-guarded: a throttled
        // or dev-scale run must not clobber the clean-window record
        val artifact = root.resolve("BENCH_FULL.json")
        val prior =
          if (java.nio.file.Files.exists(artifact))
            Some(java.nio.file.Files.readString(artifact))
          else None
        if (nFailed == 0 && shouldPromote(json, prior)) {
          java.nio.file.Files.writeString(artifact, json + "\n")
          System.err.println(s"[bench] promoted run to $artifact")
        } else {
          System.err.println(s"[bench] NOT promoting over $artifact " +
            s"(failed=$nFailed, or different sf, or narrowed run not " +
            s"covering the committed query set, or >1.1x slower on shared " +
            s"queries); full record kept at $histFile")
        }
    }
    spark.stop()
    if (nFailed > 0) sys.exit(1)
  }
}
