package graft.streaming

import java.nio.file.Files

import graft.QueryDef
import graft.functions.{SearchOps, TextOps}
import graft.tables.{GraftTable, TableDef}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, date_trunc, lit, pmod, round, when}
import org.apache.spark.sql.streaming.StreamingQuery

/** Driver-gate oracle rows for the streamed-index twins — streaming-
  * maintained state checked by the cross-engine hash gate, not just by
  * ScalaTest parity pins.
  *
  * Each row runs the REAL Structured Streaming maintenance path
  * end-to-end inside the query: the corpus is staged as a multi-file
  * parquet directory, read back as a file-source stream
  * (`maxFilesPerTrigger 1`, so the state accumulates over several
  * genuine micro-batches with exactly-once sink markers), compacted by
  * the maintenance cadence where the twin has one, then served through
  * the twin's own serve entry point. The DuckDB oracle is the UNCHANGED
  * batch SQL of the corresponding batch operator — the
  * partial-aggregate design claim ("streamed maintenance is
  * indistinguishable from batch recompute") stated as a hash equality
  * between a streamed Spark state and an independent one-shot DuckDB
  * recompute.
  *
  * Scale shape: identical to each batch operator's (the stream adds
  * only O(batch partial) append work per micro-batch); the staging
  * directory is unique per call so concurrent verify/bench/test runs
  * never share state (the `s11` catalog-clobber lesson).
  */
object IngestOracleOps {

  /** The watched file source every twin row replays through — the
    * schema/options live in ONE place so the two drive protocols
    * (bulk drain below, ordered move-in for the substring row) cannot
    * drift apart.
    */
  private def fileSource(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType, dir: String): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)

  // The conf is read at stream START (it pins the state-store partition
  // count) and by batch-side shuffles inside foreachBatch, so the whole
  // drive is wrapped. See GraftSession.withShufflePartitions.
  private def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T =
    graft.GraftSession.withShufflePartitions(spark, n)(body)

  /** The lowered width for twin drains — comfortably parallel for
    * O(batch partial) work, 8× fewer state/commit files per batch.
    */
  private val TwinShuffleWidth = 4

  /** Run `body` with no-data micro-batches disabled, restoring after.
    * The upsert twins (a7/w3) emit in UPDATE mode, where results and
    * state cleanup both ride DATA batches — the extra no-data batch the
    * engine otherwise schedules after each drain exists for
    * append-mode/timer finalization and here only buys an additional
    * state-store checkpoint per drain. Same single-threaded-session
    * caveat as [[withShufflePartitions]] (the wraps nest on the same
    * session, both restore in reverse order).
    */
  private def withNoDataBatchesDisabled[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try body finally spark.conf.set(key, prev)
  }

  /** Stage `df` as `nFiles` parquet files and replay it as a genuine
    * file-source stream through `job`; returns after the stream has
    * fully drained and stopped. `width` is the drain's shuffle width —
    * [[TwinShuffleWidth]] for the O(batch partial) twins; a row whose
    * per-batch APPEND fans out over many partition dirs (the bm25
    * postings index writes O(vocabulary) term buckets per batch) keeps
    * the session width instead, where write parallelism beats the
    * state-file savings (measured: 8-wide drains cost bm25_ingest_topk
    * ~1.4× in adjacent same-window pairs).
    */
  private def streamCorpus(spark: SparkSession, df: DataFrame, stage: String,
      nFiles: Int, width: Option[Int] = Some(TwinShuffleWidth))(
      job: DataFrame => StreamingQuery): Unit = {
    df.repartition(nFiles).write.mode("overwrite").parquet(s"$stage/corpus")
    def drive(): Unit = {
      val q = job(fileSource(spark, df.schema, s"$stage/corpus"))
      try q.processAllAvailable()
      finally q.stop()
    }
    width match {
      case Some(n) => withShufflePartitions(spark, n)(drive())
      case None => drive()
    }
  }

  /** All staging dirs created this JVM, reclaimed by ONE shutdown hook:
    * the rows' returned DataFrames lazily read the staged tables, so the
    * dirs must outlive their queries — but bench/verify runs would
    * otherwise each leave a full corpus copy + index + checkpoint in
    * /tmp forever. One hook, not one per call (ADVICE r9 #2): a long
    * bench/suite JVM invokes the twin rows dozens of times, and a
    * per-call `addShutdownHook` leaks a Thread object per invocation
    * into the runtime's hook table for the life of the JVM.
    */
  private val stagedDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var p = stagedDirs.poll()
      while (p != null) {
        try graft.FsUtil.deleteRecursively(p)
        catch { case _: Throwable => () }
        p = stagedDirs.poll()
      }
    }, "graft-ingest-stage-reclaim"))
  }

  /** Count of live staged dirs — lets a spec pin the one-hook protocol. */
  private[graft] def stagedDirCount: Int = stagedDirs.size

  private def stageDir(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    stagedDirs.add(p)
    p.toString
  }

  /** Streamed bigram-LM dictionaries ([[LmIngest]]) vs the batch
    * `text_lm_score` SQL.
    */
  val lmIngestScores: QueryDef = QueryDef(
    "lm_ingest_scores", TextOps.lmScoreSql) { t =>
    val stage = stageDir("graft_lm_ingest")
    val docs = t.documents.select(col("doc_id"), col("source"), col("text"))
    val uni = new GraftTable(t.spark, LmIngest.unigramsDef, s"$stage/uni")
    val big = new GraftTable(t.spark, LmIngest.bigramsDef, s"$stage/big")
    streamCorpus(t.spark, docs, stage, 2)(
      LmIngest.dictionaryAppend(_, uni, big, s"$stage/ck"))
    // maintenance cadence on the accumulated partials, then serve —
    // the scores must be invariant under the pre-merge by construction
    LmIngest.compactDictionaries(uni, big)
    LmIngest.score(docs, uni, big)
  }

  /** Streamed classifier dictionary ([[ClassifierIngest]]) vs the
    * batch `text_classifier_score` SQL.
    */
  val clfIngestScores: QueryDef = QueryDef(
    "clf_ingest_scores", TextOps.textClassifierScore.oracle.get) { t =>
    val stage = stageDir("graft_clf_ingest")
    val docs = t.documents.select(col("doc_id"), col("source"), col("text"))
    val dict = new GraftTable(t.spark, ClassifierIngest.dictDef, s"$stage/dict")
    streamCorpus(t.spark, docs, stage, 2)(
      ClassifierIngest.dictionaryAppend(_, dict, s"$stage/ck"))
    ClassifierIngest.compactDictionary(dict)
    ClassifierIngest.score(docs, dict)
  }

  /** Streamed per-language counts ([[TemperatureIngest]]) vs the batch
    * `sample_temperature` SQL — the served gate must keep exactly the
    * batch-derived sample.
    */
  val tempIngestSample: QueryDef = QueryDef(
    "temp_ingest_sample", TextOps.sampleTemperature.oracle.get) { t =>
    val stage = stageDir("graft_temp_ingest")
    val docs = t.documents.select(col("doc_id"), col("lang"), col("source"))
    val counts = new GraftTable(t.spark, TemperatureIngest.countsDef, s"$stage/counts")
    streamCorpus(t.spark, docs, stage, 2)(
      TemperatureIngest.countsAppend(_, counts, s"$stage/ck"))
    TemperatureIngest.sample(docs, counts)
  }

  /** Streamed postings + doc-stats index ([[PostingsIngest]]) vs the
    * batch `bm25_topk` SQL — serving from the maintained index (with
    * its per-term partition pruning) must rank identically to the
    * raw-text one-shot query.
    */
  val bm25IngestTopk: QueryDef = QueryDef(
    "bm25_ingest_topk", SearchOps.bm25Topk.oracle.get) { t =>
    val stage = stageDir("graft_bm25_ingest")
    val docs = t.documents.select(col("doc_id"), col("text"))
    // bucket count sized from the corpus volume (scan-stats estimate —
    // driver-side, no job): 8 dirs for a KB-scale twin corpus instead
    // of a 64-dir fan-out per micro-batch, growing to the serve-IO
    // bound at warehouse scale (see PostingsIngest.bucketsForVolume)
    val corpusBytes =
      docs.queryExecution.optimizedPlan.stats.sizeInBytes
    val postings = new GraftTable(t.spark,
      PostingsIngest.postingsDefWith(PostingsIngest.bucketsForVolume(
        corpusBytes.min(BigInt(Long.MaxValue)).toLong)), s"$stage/idx")
    val docStats = new GraftTable(t.spark, PostingsIngest.docStatsDef, s"$stage/idx")
    // 2 micro-batches, not 4: each append writes O(vocabulary)
    // term-partition directories, and two batches already prove the
    // cross-batch additive merge at half the file churn. width = None:
    // this is the one twin whose per-batch append IS a wide fan-out
    // write (see streamCorpus's width note)
    streamCorpus(t.spark, docs, stage, 2, width = None)(
      PostingsIngest.indexAppend(_, postings, docStats, s"$stage/ck"))
    PostingsIngest.bm25TopK(postings, docStats, SearchOps.QueryTerms, SearchOps.BmTopK)
  }

  /** Streamed cell-partitioned IVF index ([[VectorIngest]]) vs the
    * batch `ann_ivf_topk` SQL — probe-pruned serving from the streamed
    * index must rank identically to the one-shot build.
    */
  val annIngestTopk: QueryDef = QueryDef(
    "ann_ingest_topk", graft.functions.AnnOps.annIvfTopk.oracle.get) { t =>
    import graft.functions.AnnOps
    import org.apache.spark.sql.functions.sqrt
    val stage = stageDir("graft_ann_ingest")
    val base = t.embeddings.select(col("vec_id"), col("embedding"))
    val e = base.withColumn("nrm",
      sqrt(AnnOps.dot(col("embedding"), col("embedding"))))
    // frozen codebook, materialized once — shared by ingestion and serve
    val codebook = AnnOps.centroids(e, AnnOps.NCentroids).localCheckpoint()
    val table = new GraftTable(t.spark, VectorIngest.indexDef, s"$stage/idx")
    // 2 micro-batches (cell-partitioned appends — the bm25 file-churn
    // note applies)
    streamCorpus(t.spark, base, stage, 2)(
      VectorIngest.cellAppend(_, codebook, table, s"$stage/ck"))
    VectorIngest.probeTopK(table,
      base.filter(col("vec_id") < AnnOps.NQueries), codebook,
      nprobe = 2, k = AnnOps.TopK)
  }

  /** Streamed cross-source keep-best partials ([[KeepBestIngest]]) vs
    * the batch `dedup_keep_best` SQL — the resolved winners from
    * compacted streamed partials must equal the one-shot group-by.
    */
  val keepbestIngestResolve: QueryDef = QueryDef(
    "keepbest_ingest_resolve",
    graft.functions.DedupOps.dedupKeepBest.oracle.get) { t =>
    val stage = stageDir("graft_kb_ingest")
    val docs = t.documents.select(col("doc_id"), col("source"), col("text"))
    val partials = new GraftTable(t.spark, KeepBestIngest.partialsDef, s"$stage/kb")
    // width 8, not TwinShuffleWidth: the only twin the width-4 drain
    // measured SLOWER (r17 AB_BENCH_r17_width ~1.07 — its per-batch
    // keep-best partial aggregation is compute-, not state-file-bound)
    streamCorpus(t.spark, docs, stage, 2, width = Some(8))(
      KeepBestIngest.run(_, partials, s"$stage/ck"))
    KeepBestIngest.compactPartials(partials)
    KeepBestIngest.resolve(partials)
  }

  /** Streamed LSH band index ([[NearDupIngest]]) vs the batch
    * `dedup_minhash_lsh` SQL — bucket-local pair expansion over the
    * streamed band table must emit exactly the batch candidate pairs
    * (band sets are additive across batches, so arrival order cannot
    * matter).
    */
  val neardupIngestPairs: QueryDef = QueryDef(
    "neardup_ingest_pairs",
    graft.functions.DedupOps.dedupMinhashLsh.oracle.get) { t =>
    val stage = stageDir("graft_nd_ingest")
    val docs = t.documents.select(col("doc_id"), col("text"))
    val bands = new GraftTable(t.spark, NearDupIngest.bandTableDef, s"$stage/bands")
    streamCorpus(t.spark, docs, stage, 2)(
      NearDupIngest.bandAppend(_, bands, s"$stage/ck"))
    graft.functions.DedupOps.bandPairsOfKeys(
      bands.readLogical().select(col("doc_id"), col("band"), col("key")))
  }

  /** Streamed exact-substring gate ([[SubstringIngest]]) vs the batch
    * `dedup_substring_cut` SQL — the append-only cut-stats table,
    * accumulated across micro-batches against the growing window
    * index, must be row-identical to the one-shot batch cut. The
    * twin's keep-first rule is ARRIVAL-ORDER-defined (earlier batch
    * wins a shared window), so this row forces replay order BY
    * CONSTRUCTION rather than betting on the file source's internal
    * ordering (which sorts by modification timestamp with an
    * UNSPECIFIED tie fallback, and mtime forcing via setLastModified
    * can silently no-op on some mounts): the corpus is pre-split into
    * ascending non-overlapping doc_id ranges (`repartitionByRange` +
    * in-file sort), and each range file is MOVED into the watched
    * directory only after the stream has fully drained the previous
    * one — the source can only ever see the files in doc_id order.
    * 2 ordered micro-batches: the gate re-hashes its batch and scans
    * the index every batch (batch count is the row's cost knob), and
    * two batches already exercise the cross-batch keep-first (history
    * wins) alongside the within-batch min rule.
    */
  val substringIngestCut: QueryDef = QueryDef(
    "substring_ingest_cut",
    graft.functions.DedupOps.dedupSubstringCut.oracle.get) { t =>
    val stage = stageDir("graft_ss_ingest")
    val docs = t.documents.select(col("doc_id"), col("text"))
    docs.repartitionByRange(2, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(s"$stage/presplit")
    // part-file names follow the range-partition order: part-00000
    // holds the lowest doc_id range
    val parts = new java.io.File(s"$stage/presplit").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .sortBy(_.getName)
    val corpus = java.nio.file.Paths.get(s"$stage/corpus")
    Files.createDirectories(corpus)
    val index = new GraftTable(t.spark, SubstringIngest.windowIndexDef, s"$stage/wh")
    val stats = new GraftTable(t.spark, SubstringIngest.cutStatsDef, s"$stage/wh")
    withShufflePartitions(t.spark, TwinShuffleWidth) {
      val q = SubstringIngest.run(
        fileSource(t.spark, docs.schema, s"$stage/corpus"), index, stats,
        s"$stage/ck")
      try parts.foreach { f =>
        Files.move(f.toPath, corpus.resolve(f.getName))
        q.processAllAvailable()
      }
      finally q.stop()
    }
    stats.readLogical()
  }

  /** Streamed continuous hourly upsert ([[Sinks.hourlyUpsert]], A7/W2/
    * W3/S5 composed) vs the batch `w2_tumbling_window` SQL — the
    * update-mode windowed aggregation, revised across several REAL
    * micro-batches through the exactly-once merge-on-read upsert sink
    * and a compaction pass, must serve exactly the one-shot batch
    * aggregate. The REAL 30 s watermark stays on (that is the operator
    * under test), so replay order is forced time-ascending BY
    * CONSTRUCTION (the substring row's move-in protocol over
    * ts-range-partitioned files): production's in-order log replay, the
    * contract under which watermarking drops nothing. Late-data
    * dropping itself is StreamingSpec's + `w3_watermark_drop`'s pin;
    * this row pins the maintenance protocol end-to-end in the
    * cross-engine gate. Two ordered micro-batches — the substring
    * twin's documented cost knob: each batch pays a full state
    * checkpoint + upsert commit, and two already exercise the
    * cross-batch window revision that distinguishes the streamed path
    * from a one-shot batch write.
    */
  val a7HourlyUpsert: QueryDef = QueryDef(
    "a7_hourly_upsert",
    graft.operators.WindowOps.w2TumblingWindow.oracle.get) { t =>
    import org.apache.spark.sql.types._
    val stage = stageDir("graft_a7_ingest")
    val events = t.events.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"))
    events.repartitionByRange(2, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(s"$stage/presplit")
    val parts = new java.io.File(s"$stage/presplit").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .sortBy(_.getName)
    val corpus = java.nio.file.Paths.get(s"$stage/corpus")
    Files.createDirectories(corpus)
    val hourlySchema = StructType(Seq(
      StructField("window_start", TimestampType),
      StructField("event_type", StringType),
      StructField("n", LongType),
      StructField("total_value", DoubleType),
      StructField("avg_value", DoubleType)))
    val table = new GraftTable(t.spark,
      graft.tables.TableDef("a7_hourly", hourlySchema,
        keys = Seq("window_start", "event_type"), mergeOnRead = true),
      s"$stage/wh")
    withShufflePartitions(t.spark, TwinShuffleWidth) {
      withNoDataBatchesDisabled(t.spark) {
        val q = Sinks.hourlyUpsert(
          fileSource(t.spark, events.schema, s"$stage/corpus"), table, s"$stage/ck")
        try parts.foreach { f =>
          Files.move(f.toPath, corpus.resolve(f.getName))
          q.processAllAvailable()
        }
        finally q.stop()
      }
    }
    // maintenance cadence: materialize the latest-wins merge before serving
    if (table.needsCompaction()) table.compact()
    table.readLogical()
  }

  /** W3/W4 in the driver gate — watermark late-drop semantics as a
    * cross-engine hash, not just a ScalaTest pin: the one streaming
    * behavior with no batch twin is WHICH rows the engine refuses, so
    * the row CONSTRUCTS a replay where the refusal set is exactly
    * computable and states it in SQL. Batch 1 is the whole corpus (the
    * watermark advances to max(ts) − 30 s); batch 2 replays copies of
    * the OLDEST hour (their window closed long before the watermark —
    * the engine must REFUSE them, and its state for that window is
    * evicted rather than revised, which is W4's bound) plus copies of
    * the NEWEST hour (window still open
    * — the engine must fold them in and revise the upserted row). The
    * oracle aggregates corpus ∪ newest-hour copies: a stream that
    * leaked a dropped row, dropped a live one, or resurrected evicted
    * state hash-fails. Window-grain drop semantics (window.end vs
    * watermark), not row-ts-grain — the hour-apart construction keeps
    * every window strictly clear of the boundary.
    */
  val w3WatermarkDrop: QueryDef = QueryDef(
    "w3_watermark_drop",
    """WITH e AS (
      |  SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, round(value, 2) AS value
      |  FROM events),
      |live AS (
      |  SELECT ts, event_type, value FROM e
      |  UNION ALL
      |  SELECT ts, event_type, value FROM e
      |  WHERE date_trunc('hour', ts) = (SELECT date_trunc('hour', max(ts)) FROM e))
      |SELECT date_trunc('hour', ts) AS window_start, event_type,
      |       count(*) AS n, round(sum(value), 2) AS total_value,
      |       CAST((CAST(round(round(sum(value), 2) * 100) AS BIGINT) * 200 + count(*))
      |            // (2 * count(*)) AS DOUBLE) / 10000 AS avg_value
      |FROM live GROUP BY 1, 2""".stripMargin) { t =>
    import org.apache.spark.sql.types._
    val stage = stageDir("graft_w3_ingest")
    val events = t.events.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), round(col("value"), 2).as("value"))
    val (minTs, maxTs) = {
      val r = events.agg(org.apache.spark.sql.functions.min(col("ts")),
        org.apache.spark.sql.functions.max(col("ts"))).head
      (r.getTimestamp(0), r.getTimestamp(1))
    }
    // the construction needs the oldest window CLOSED at batch 2 (end
    // <= max(ts) - 30 s) and distinct from the still-open newest one
    require(maxTs.getTime - minTs.getTime > 2L * 3600 * 1000,
      s"w3 fixture needs >2 h of event time, got [$minTs, $maxTs]")
    val hourOf = (c: org.apache.spark.sql.Column) => date_trunc("hour", c)
    val oldest = hourOf(lit(minTs))
    val newest = hourOf(lit(maxTs))
    val late = events.filter(hourOf(col("ts")) === oldest)
      .withColumn("event_id", col("event_id") + 1000000000L)
    val fresh = events.filter(hourOf(col("ts")) === newest)
      .withColumn("event_id", col("event_id") + 2000000000L)
    events.coalesce(1).write.mode("overwrite").parquet(s"$stage/b1")
    late.unionByName(fresh).coalesce(1).write.mode("overwrite")
      .parquet(s"$stage/b2")
    val corpus = java.nio.file.Paths.get(s"$stage/corpus")
    Files.createDirectories(corpus)
    val hourlySchema = StructType(Seq(
      StructField("window_start", TimestampType),
      StructField("event_type", StringType),
      StructField("n", LongType),
      StructField("total_value", DoubleType),
      StructField("avg_value", DoubleType)))
    val table = new GraftTable(t.spark,
      graft.tables.TableDef("w3_hourly", hourlySchema,
        keys = Seq("window_start", "event_type"), mergeOnRead = true),
      s"$stage/wh")
    // NO withNoDataBatchesDisabled here (unlike a7): the no-data batch
    // after each drain is what INSTALLS the advanced watermark before
    // the next data batch — without it b2 was planned against b1's
    // pre-execution watermark and the constructed late rows were
    // folded in instead of refused (measured: oldest-window count 8 vs
    // the oracle's 4). For this row the extra state checkpoint is the
    // price of the semantics under test.
    withShufflePartitions(t.spark, TwinShuffleWidth) {
      val q = Sinks.hourlyUpsert(
        fileSource(t.spark, events.schema, s"$stage/corpus"), table, s"$stage/ck")
      try Seq("b1", "b2").foreach { b =>
        val parts = new java.io.File(s"$stage/$b").listFiles()
          .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
        parts.foreach(f => Files.move(f.toPath, corpus.resolve(s"$b-${f.getName}")))
        q.processAllAvailable()
      }
      finally q.stop()
    }
    if (table.needsCompaction()) table.compact()
    table.readLogical()
  }

  /** Streamed statement-set fan-out ([[Sinks.multiSinkFanout]], X1) vs
    * a one-shot split of the same source — one stream, one cached batch
    * per trigger, three sinks with PER-TABLE exactly-once guards. The
    * testdata events are all well-formed, so the row injects
    * deterministic rejects (negated user on id%97, negated value on
    * id%101 — same CASE in the oracle) and serves clean ∪ rejected
    * under one hash: a fan-out that dropped, duplicated, or
    * mis-classified a row across batch boundaries fails the compare.
    * The per-batch quality table is batching-dependent by design
    * (batch_id keyed); its invariants are StreamingSpec's pin.
    */
  val x1MultisinkFanout: QueryDef = QueryDef(
    "x1_multisink_fanout",
    """WITH e AS (
      |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
      |         CASE WHEN event_id % 97 = 0 THEN -user_id - 1
      |              ELSE user_id END AS user_id,
      |         event_type,
      |         CASE WHEN event_id % 101 = 0 THEN -round(value, 2) - 1
      |              ELSE round(value, 2) END AS value
      |  FROM events)
      |SELECT 'clean' AS leg, event_id, ts, user_id, event_type, value,
      |       CAST(NULL AS VARCHAR) AS reject_reason
      |FROM e WHERE NOT (value < 0 OR user_id < 0)
      |UNION ALL
      |SELECT 'rejected', event_id, ts, user_id, event_type, value,
      |       CASE WHEN user_id < 0 THEN 'TEST_USER'
      |            ELSE 'NEGATIVE_VALUE' END
      |FROM e WHERE value < 0 OR user_id < 0""".stripMargin) { t =>
    import org.apache.spark.sql.types._
    val stage = stageDir("graft_x1_fanout")
    val events = t.events.select(col("event_id"), col("ts"),
      when(pmod(col("event_id"), lit(97)) === 0, -col("user_id") - 1)
        .otherwise(col("user_id")).as("user_id"),
      col("event_type"),
      when(pmod(col("event_id"), lit(101)) === 0, -round(col("value"), 2) - 1)
        .otherwise(round(col("value"), 2)).as("value"))
    val evSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val rejSchema = StructType(evSchema.fields :+
      StructField("reject_reason", StringType))
    val qSchema = StructType(Seq(
      StructField("event_type", StringType), StructField("n_total", LongType),
      StructField("n_rejected", LongType), StructField("batch_id", LongType)))
    val clean = new GraftTable(t.spark,
      graft.tables.TableDef("x1_clean", evSchema), s"$stage/wh")
    val rejected = new GraftTable(t.spark,
      graft.tables.TableDef("x1_rejected", rejSchema), s"$stage/wh")
    val quality = new GraftTable(t.spark,
      graft.tables.TableDef("x1_quality", qSchema, keys = Seq("event_type")),
      s"$stage/wh")
    streamCorpus(t.spark, events, stage, 2)(
      Sinks.multiSinkFanout(_, clean, rejected, quality, s"$stage/ck"))
    clean.readLogical()
      .withColumn("reject_reason", lit(null).cast("string"))
      .withColumn("leg", lit("clean"))
      .unionByName(rejected.readLogical().withColumn("leg", lit("rejected")))
      .select(col("leg"), col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("reject_reason"))
  }

  /** Streamed DSIR bucket statistics ([[DsirIngest]]) vs the batch
    * `sample_dsir` SQL — the served importance scores (and the
    * selection cut) must hash-match the one-shot batch computation.
    */
  val dsirIngestScores: QueryDef = QueryDef(
    "dsir_ingest_scores", graft.functions.PrepOps.dsirSql) { t =>
    val stage = stageDir("graft_dsir_ingest")
    val docs = t.documents.select(col("doc_id"), col("source"), col("text"))
    val counts = new GraftTable(t.spark, DsirIngest.countsDef, s"$stage/counts")
    streamCorpus(t.spark, docs, stage, 2)(
      DsirIngest.countsAppend(_, counts, s"$stage/ck"))
    // maintenance cadence on the accumulated partials, then serve —
    // scores must be invariant under the pre-merge by construction
    DsirIngest.compactCounts(counts)
    DsirIngest.score(docs, counts)
  }

  /** Streamed producer→changelog→consumer loop ([[CdcIngest]]) vs the
    * batch m10 oracle: each micro-batch appends into the source
    * snapshot-log table and the [[graft.materialize.CdcAggConsumer]]
    * folds that commit's changelog rows — the aggregate is maintained
    * continuously, never recomputed. After the stream drains, a
    * change-tracked repair zeroes the error money and one final poll
    * folds its insert+delete rows too; the result must hash-match
    * DuckDB's single-shot recompute of the final state. Fold order is
    * commit order by construction, so arrival slicing cannot matter.
    */
  val cdcIngestAgg: QueryDef = QueryDef(
    "cdc_ingest_agg", graft.operators.MaterializeOps.cdcAggOracleSql) { t =>
    import graft.materialize.CdcAggConsumer
    import graft.operators.MaterializeOps
    val stage = stageDir("graft_cdc_ingest")
    val ev = t.events.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"))
    val src = new GraftTable(t.spark,
      TableDef("cdc_src", MaterializeOps.eventsSchema), s"$stage/src")
    val mv = new GraftTable(t.spark,
      TableDef("agg_by_type", MaterializeOps.cdcAggSchema,
        keys = Seq("event_type")), s"$stage/mv")
    val consumer = new CdcAggConsumer(t.spark, src, mv,
      groupCols = Seq("event_type"), valueCol = "value")
    streamCorpus(t.spark, ev, stage, 3)(
      CdcIngest.run(_, src, consumer, s"$stage/ck"))
    src.replaceWhere(col("event_type") === "error",
      ev.filter(col("event_type") === "error").withColumn("value", lit(0.0)),
      trackChanges = true)
    consumer.poll()
    mv.readLogical()
  }

  /** Streamed MIN/MAX-tracking CDC consumer (the m11 hybrid under the
    * micro-batch cadence): each batch appends into the source and the
    * consumer folds it — extrema maintained by the insert-monotone fold
    * alone while the stream runs — then a post-stream predicate delete
    * removes each type's TOP values, forcing the delete-of-extremum
    * keyed-recompute leg through the same changelog poll. Hash-matching
    * DuckDB's single-shot recompute proves the hybrid converges under
    * arbitrary arrival slicing, exactly-once included.
    */
  val cdcIngestMinmax: QueryDef = QueryDef(
    "cdc_ingest_minmax",
    """SELECT event_type, count(*) AS n,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
      |       CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS min_cents,
      |       CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_cents
      |FROM events
      |WHERE NOT (value > 300)
      |GROUP BY 1""".stripMargin) { t =>
    import graft.materialize.CdcAggConsumer
    import graft.operators.MaterializeOps
    import org.apache.spark.sql.types._
    val stage = stageDir("graft_cdc_mm_ingest")
    val ev = t.events.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"))
    val mmSchema = StructType(Seq(
      StructField("event_type", StringType),
      StructField("n", LongType),
      StructField("cents", LongType),
      StructField("min_cents", LongType),
      StructField("max_cents", LongType)))
    val src = new GraftTable(t.spark,
      TableDef("cdc_src_mm", MaterializeOps.eventsSchema), s"$stage/src")
    val mv = new GraftTable(t.spark,
      TableDef("agg_minmax_tw", mmSchema, keys = Seq("event_type")), s"$stage/mv")
    val consumer = new CdcAggConsumer(t.spark, src, mv,
      groupCols = Seq("event_type"), valueCol = "value", trackMinMax = true)
    streamCorpus(t.spark, ev, stage, 3)(
      CdcIngest.run(_, src, consumer, s"$stage/ck"))
    src.deleteWhere(col("value") > 300) // extremum deletes → recompute leg
    consumer.poll()
    mv.readLogical()
  }

  val all: Seq[QueryDef] = Seq(
    lmIngestScores, clfIngestScores, tempIngestSample, bm25IngestTopk,
    annIngestTopk, keepbestIngestResolve, neardupIngestPairs,
    substringIngestCut, a7HourlyUpsert, x1MultisinkFanout, w3WatermarkDrop,
    dsirIngestScores, cdcIngestAgg, cdcIngestMinmax)
}
