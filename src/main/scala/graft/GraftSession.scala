package graft

import org.apache.spark.sql.SparkSession

/** Single place where the engine's SparkSession is configured, so every
  * entry point (Verify, Bench, ProfileBench, pipebench, tests) agrees on semantics:
  *
  *  - UTC session time zone (oracle parity with DuckDB);
  *  - `spark.sql.shuffle.partitions` sized to the executor core count,
  *    not the 200 default — at cluster scale this becomes a per-job
  *    estimate from input size, and AQE coalesces from there;
  *  - AQE on (default in Spark 4) with skew-join handling, which is the
  *    runtime guard for skewed funnel keys;
  *  - `nanosAsLong` kept ON here for compatibility with the older
  *    `events.parquet` layout (INT64 TIMESTAMP(NANOS), which the
  *    vectorized reader otherwise rejects). Current testdata ships
  *    TIMESTAMP(MICROS) — the conf is then inert; [[Tables.events]]
  *    adapts to whichever layout it finds. Setting it at construction
  *    (not inside a table getter) keeps read semantics constant;
  *  - the generated-code cache sized to the pipeline's working set
  *    ([[CodegenCacheEntries]]). Spark keeps 100 compiled classes by
  *    default, but the three streaming jobs' eight queries and their
  *    table writes cycle through about 480 distinct classes per run
  *    (the serving reads about 370), so with the default every
  *    micro-batch evicts and Janino recompiles what the previous one
  *    compiled. The conf is static and bounds an LRU, allocating
  *    nothing up front; it is read when the JVM first generates code,
  *    so it must be set on the session before any query runs.
  *
  * Timestamp OUTPUT format stays the session default (INT96) so ad-hoc
  * result dumps (Verify) read back naive, matching the DuckDB oracle.
  * Table files never see that default: the table writer
  * (GraftParquetBridge) sets INT64 TIMESTAMP(MICROS) per file, because
  * the table layer needs usable footer min/max for file-level range
  * pruning and metadata watermark reads (INT96 has no ordered stats).
  */
object GraftSession {
  /** `spark.sql.codegen.cache.maxEntries`: above the measured working
    * set (about 480 classes over a streaming run) with headroom. */
  val CodegenCacheEntries = 2048

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // the reference's Trino/Iceberg catalog name, served by the
      // read-only metadata catalog so query-examples #8's literal
      // `iceberg.db."bid_requests$snapshots"` resolves (see MetaCatalog)
      .config("spark.sql.catalog.iceberg", classOf[graft.tables.MetaCatalog].getName)
      // checkpoint IO: local (file:) checkpoint dirs skip the
      // FileContext + CRC-sidecar layer while keeping the atomic
      // visibility contract; NON-file schemes (HDFS/S3 in a cluster
      // deployment) delegate to Spark's stock manager inside the class,
      // so the setting is scheme-adaptive, not a local-mode assumption
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[org.apache.spark.sql.execution.streaming.checkpointing.GraftLocalCheckpointFileManager].getName)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** Standard entry-point session: local[cpus], shuffle = cpus. */
  def get(cpus: Int): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` with the session shuffle-partition count set to `n` and
    * restored after. The multi-commit oracle protocols (streamed twins,
    * materializer repair runs) shuffle O(batch partial) rows per pass,
    * so the session's core-count width (32 under Bench) is pure
    * per-pass overhead there — task launch, state/commit files — while
    * production sizes this per job from input volume. Results are
    * partition-count-independent (the unchanged oracle hashes prove
    * it); callers whose per-pass WRITE fans out over many partition
    * dirs should keep the session width instead (see the bm25 twin).
    *
    * NOT reentrant and NOT safe under concurrent queries: the wrap
    * mutates the SESSION-global conf, so anything else running on the
    * same SparkSession during `body` silently executes at width `n`,
    * and two overlapping wraps would restore each other's value (ADVICE
    * r11 #2). All current callers (Verify/Bench/tests) run queries
    * strictly sequentially on the session; the guard below turns a
    * future violation of that assumption into a loud failure instead
    * of a silent mis-measurement. (The alternative — running twins on
    * `spark.newSession()` — was rejected: the twins register temp views
    * and read session state that would then need re-plumbing.)
    */
  private val shufflePartitionsWrapActive =
    new java.util.concurrent.atomic.AtomicBoolean(false)
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    require(shufflePartitionsWrapActive.compareAndSet(false, true),
      "withShufflePartitions is not reentrant: an overlapping wrap would " +
        "restore the wrong prior width — serialize the callers")
    // everything after the CAS sits inside the release-guard: a conf
    // get/set that throws (session torn down mid-run) must not wedge
    // the flag true for the rest of the JVM
    try {
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      spark.conf.set(key, n.toString)
      try body finally spark.conf.set(key, prev)
    } finally shufflePartitionsWrapActive.set(false)
  }
}
