package graft.pipebench

import java.nio.file.{Files, Paths}

import graft.gen.RtbGenerator
import graft.streaming.Jobs

/** The `stream` workload: the deployment's three streaming jobs fed one
  * generated RTB stream in two phases that load the same layers
  * differently.
  *
  *  - backfill: a closed loop. A backlog of [[BacklogBlocks]] blocks of
  *    [[BlockHours]] generated hours each is offered one block at a time;
  *    the next block goes in once all three jobs drained the previous
  *    one. Per-trigger costs spread over large micro-batches, so decode,
  *    flatten, shuffle, state and large-file writes dominate:
  *    `throughput_per_s` is the backlog's events over its drain time.
  *  - live: an open loop over a stretch of the stream. One
  *    feeder thread offers a chunk every [[ChunkMs]] on a fixed wall-clock
  *    schedule at [[LiveRequestsPerS]], whatever the pipeline does. Small
  *    micro-batches make each trigger's fixed cost dominate (planning,
  *    offset and commit logs, one table commit and sink mark per sink):
  *    `latency_p50_s`/`latency_p90_s` are chunk freshness, from when a
  *    chunk was due until its events are committed in the five ingestion
  *    tables and its impressions' joined rows in the pairs table.
  *
  * Live runs first, on jobs warmed by one chunk; the backlog is the
  * stream's next generated hours (an outage's worth of data arriving at
  * once), so no job sees either phase as late data.
  */
object StreamWorkloads {
  val StartMs = 1704103200000L // 2024-01-01 10:00:00 UTC
  val Rates = RtbGenerator.Rates(dupRequest = 0.02, dupResponse = 0.02,
    dupImpression = 0.02, dupClick = 0.02)

  val WarmRequests = 1000
  val BlockRequests = 10000
  val BlockHours = 2
  val BacklogBlocks = 2
  val ChunkMs = 50
  val LiveRequestsPerS = 60

  /** Tables whose stored bytes count toward `stored_bytes_per_event`. */
  private val DataTables = Seq(Jobs.cleanTable, Jobs.rejectedTable, Jobs.bidsTable,
    Jobs.impressionsTable, Jobs.clicksTable, Jobs.pairsTable)

  private def fileBytes(cat: graft.tables.TableCatalog, name: String, files: Iterable[String]): Long = {
    val data = cat.table(name).dataPath
    files.iterator.map { f =>
      val p = if (f.startsWith("/")) Paths.get(f) else Paths.get(data, f)
      if (Files.exists(p)) Files.size(p) else 0L
    }.sum
  }

  /** `tables.*` metrics from commit metadata: commits and files added in
    * [t0, t1), and the stored bytes of the data tables per event.
    */
  private def tableLayer(pipe: Pipeline, t0Ms: Long, t1Ms: Long, events: Long,
      a: MeterSnap, b: MeterSnap): Map[String, (Double, String)] = {
    var (commits, files, bytes) = (0L, 0L, 0L)
    pipe.cat.names.foreach { n =>
      val cs = pipe.cat.table(n).commits
      cs.zip(None +: cs.map(Some(_))).foreach { case (c, prev) =>
        if (c.tsMs >= t0Ms && c.tsMs < t1Ms) {
          val added = c.files.toSet -- prev.map(_.files).getOrElse(Nil)
          commits += 1
          files += added.size
          bytes += fileBytes(pipe.cat, n, added)
        }
      }
    }
    val stored = DataTables.map(n => fileBytes(pipe.cat, n,
      pipe.cat.table(n).commits.lastOption.map(_.files).getOrElse(Nil))).sum
    Map(
      "tables.commits" -> (commits.toDouble, "count"),
      "tables.files_added" -> (files.toDouble, "count"),
      "tables.bytes_added" -> (bytes.toDouble, "B"),
      "tables.bytes_per_file" -> (if (files == 0) 0.0 else bytes.toDouble / files, "B"),
      "tables.stored_bytes_per_event" -> (stored.toDouble / math.max(1L, events), "B/event"),
      "tables.cas_retries" -> ((b.casRetries - a.casRetries).toDouble, "count"),
      "tables.footer_probes" -> ((b.footerProbes - a.footerProbes).toDouble, "count"))
  }

  /** Run `make` `reps` times and keep the last result; earlier ones are
    * torn down. Returns the median set-up time and the kept value.
    */
  def repeatedSetup[A](reps: Int)(make: Int => A)(teardown: A => Unit): (Double, A) = {
    var kept: Option[A] = None
    val times = (0 until reps).map { i =>
      kept.foreach(teardown)
      val t0 = System.nanoTime()
      kept = Some(make(i))
      (System.nanoTime() - t0) / 1e9
    }
    (Stats.median(times), kept.get)
  }

  /** `sources.decode_s`: one timed `AvroWire.fromWire` pass over every
    * frame the run offered (traced run only).
    */
  private def decodeLayer(ctx: Ctx, feed: Feed): Map[String, (Double, String)] =
    if (!ctx.trace.enabled) Map.empty
    else {
      import ctx.spark.implicits._
      import org.apache.spark.sql.functions.col
      val t0 = System.nanoTime()
      feed.frames.zipWithIndex.foreach { case (byChunk, k) =>
        val (_, reader) = feed.registry.latest(Jobs.wireSubjects(k))
        ctx.trace.span(s"sources.decode.${Jobs.wireTopics(k)}") {
          ctx.spark.createDataset(byChunk.flatten.toSeq).toDF("value")
            .select(graft.sources.AvroWire.fromWire(col("value"), reader, feed.registry.writers).as("r"))
            .select("r.*").write.format("noop").mode("overwrite").save()
        }
      }
      Map("sources.decode_s" -> ((System.nanoTime() - t0) / 1e9, "s"))
    }

  private final case class Setup(feed: Feed, pipe: Pipeline, dir: String)

  def run(ctx: Ctx): Outcome = {
    val perBlock = if (ctx.tiny) 500 else BlockRequests
    val warm = if (ctx.tiny) 100 else WarmRequests
    val rate = if (ctx.tiny) 50 else LiveRequestsPerS
    val perChunk = rate * ChunkMs / 1000
    val liveChunks = ctx.seconds * 1000 / ChunkMs
    // chunk 0 warms the jobs, chunks 1..L are the live chunks, the rest
    // the backlog blocks. Live replays its stretch in generated real time;
    // the backlog is the following generated hours, a separate generator
    // call at backfill density.
    val nLive = warm + liveChunks * perChunk
    val nChunks = 1 + liveChunks + BacklogBlocks
    val live = 1 to liveChunks
    val blocks = liveChunks + 1 until nChunks
    def index(id: String) = id.substring(id.lastIndexOf('-') + 1).toInt
    val (setupS, st) = repeatedSetup(3) { i =>
      val dir = ctx.dir(s"stream-$i")
      val liveMs = nLive * 1000L / rate
      val head = RtbGenerator.generate(ctx.seed, nLive, StartMs, liveMs, Rates)
      val tail = RtbGenerator.generate(ctx.seed + 1, BacklogBlocks * perBlock, StartMs + liveMs + 60000,
        BacklogBlocks * BlockHours * 3600 * 1000L, Rates)
      val headIds = head.requests.map(_.id).toSet
      val chunkOf = (id: String) =>
        if (headIds(id)) { val i = index(id); if (i < warm) 0 else 1 + (i - warm) / perChunk }
        else 1 + liveChunks + index(id) / perBlock
      val feed = ctx.trace.span("gen.encode")(Feed.build(ctx.spark, Feed.concat(head, tail), nChunks, chunkOf))
      val pipe = ctx.trace.span("streaming.start")(new Pipeline(ctx, feed, dir))
      Setup(feed, pipe, dir)
    }(s => s.pipe.stop())
    val Setup(feed, pipe, dir) = st
    // the first chunk pays every query's planning, codegen and first commits
    pipe.send(0)
    ctx.trace.span("streaming.warm_drain")(pipe.drain())

    // live: open loop, one chunk every ChunkMs whatever the jobs do
    val a = ctx.meter.snap()
    val late = new Array[Double](liveChunks)
    val t0Ns = System.nanoTime() + 50L * 1000000
    val t0Ms = System.currentTimeMillis() + 50
    val feeder = new Thread(() => {
      live.foreach { c =>
        val dueNs = t0Ns + (c - 1).toLong * ChunkMs * 1000000L
        val wait = dueNs - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        val sentNs = System.nanoTime()
        ctx.trace.span("gen.add_data", c)(pipe.send(c))
        late(c - 1) = (sentNs - dueNs) / 1e9
      }
    }, "pipebench-feeder")
    feeder.setDaemon(true)
    val t1Ns = t0Ns + ctx.seconds * 1000000000L
    val t1Ms = t0Ms + ctx.seconds * 1000L
    ctx.trace.span("streaming.await_progress") {
      feeder.start()
      val rest = t1Ns - System.nanoTime()
      if (rest > 0) Thread.sleep(rest / 1000000)
      feeder.join()
    }
    val mid = ctx.meter.snap()
    pipe.queries.foreach { case (n, q) => ctx.trace.span(s"streaming.drain.$n")(q.processAllAvailable()) }

    // backfill: closed loop, the next block once all jobs drained the last
    val bfT0Ms = System.currentTimeMillis()
    val bfT0Ns = System.nanoTime()
    val sentAt = blocks.map { j =>
      val at = System.currentTimeMillis()
      ctx.trace.span("gen.add_data", j)(pipe.send(j))
      pipe.queries.foreach { case (n, q) => ctx.trace.span(s"streaming.drain.$n", j)(q.processAllAvailable()) }
      at
    }
    val bfT1Ns = System.nanoTime()
    val bfT1Ms = System.currentTimeMillis()
    val b = ctx.meter.snap()
    val coverage = ctx.trace.coverage(t0Ns, bfT1Ns)
    val done = Completion.chunkDone(pipe, nChunks, s"$dir/ckpt")
    pipe.stop()

    val blockLat = blocks.zip(sentAt).flatMap { case (j, at) => done(j).map(d => (d - at) / 1e3) }
    val backlogEvents = blocks.map(feed.events).sum
    val bfWallS = (bfT1Ns - bfT0Ns) / 1e9
    val dueMs = (c: Int) => t0Ms + (c - 1).toLong * ChunkMs
    val fresh = live.flatMap(c => done(c).map(d => (d - dueMs(c)) / 1e3))
    // chunks complete together when a trigger commits: the percentiles
    // rest on this many distinct completion times, not on n chunks
    val completions = live.flatMap(done(_)).distinct.size
    val missing = (1 until nChunks).count(c => done(c).isEmpty)
    val backlog = live.filter(c => done(c).forall(_ > t1Ms)).map(feed.events).sum
    val checks = ctx.trace.span("check.pipeline")(PipelineCheck.run(ctx.spark, pipe.cat, feed.funnel))

    val allEvents = (0 until nChunks).map(feed.events).sum
    val lv = StreamLayer.metrics(pipe, t0Ms, t1Ms, mid.jobs - a.jobs)
    val bf = StreamLayer.metrics(pipe, bfT0Ms, bfT1Ms + 1, b.jobs - mid.jobs)
    val backfillKeys = Set("streaming.trigger_p50_s", "streaming.trigger_p90_s", "streaming.add_batch_s",
      "streaming.state_rows", "streaming.state_bytes", "streaming.state_commit_s")
    val layers = lv.filter(kv => !backfillKeys(kv._1)) ++ bf.filter(kv => backfillKeys(kv._1)) ++
      tableLayer(pipe, t0Ms, bfT1Ms + 1, allEvents, a, b) ++
      ctx.meter.sparkLayer(a, b, ctx.cores) ++
      Map("gen.late_p90_s" -> (Stats.pct(late.toSeq, 0.9), "s"),
        "gen.backlog_end_events" -> (backlog.toDouble, "count"),
        "trace.coverage" -> (coverage, "ratio")) ++
      decodeLayer(ctx, feed)
    Outcome(
      attempted = nChunks - 1 + checks.size,
      failed = missing + checks.count(!_._2),
      checks = checks,
      e2e = Map(
        "setup_s" -> (setupS, "s"),
        "latency_p50_s" -> (Stats.pct(fresh, 0.5), "s"),
        "latency_p90_s" -> (Stats.pct(fresh, 0.9), "s"),
        "throughput_per_s" -> (backlogEvents / bfWallS, "1/s")),
      layers = layers,
      notes = Seq(
        f"backfill: $BacklogBlocks blocks of $perBlock requests ($BlockHours generated hours each), " +
          f"$backlogEvents events drained in $bfWallS%.2f s = ${backlogEvents / bfWallS}%.0f events/s; " +
          f"block drain ${blockLat.map(x => f"$x%.3f").mkString(", ")} s",
        f"live: offered $rate requests/s = ${live.map(feed.events).sum / ctx.seconds.toDouble}%.0f events/s " +
          f"in $liveChunks chunks of $ChunkMs ms; freshness p50 ${Stats.pct(fresh, 0.5)}%.3f s, " +
          f"p90 ${Stats.pct(fresh, 0.9)}%.3f s (n=${fresh.size} chunks, " +
          f"completed at $completions distinct commit times)",
        "live: freshness by tenth of the window " + fresh.grouped(math.max(1, fresh.size / 10))
          .map(g => f"${Stats.median(g)}%.2f").mkString(" ") + " s",
        f"live: feeder late p90 ${Stats.pct(late.toSeq, 0.9) * 1e3}%.2f ms, " +
          f"backlog at window end $backlog events",
        f"stored ${layers("tables.stored_bytes_per_event")._1}%.1f B/event"))
  }
}
