package graft.operators

import java.nio.file.{Files, Paths}

import graft.QueryDef
import graft.tables._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Write-path operators (SURVEY.md §2.1 S4/S5/S10 + §2.8 M1): each query
  * exercises the snapshot-log table format END TO END — create a table
  * under a scratch warehouse, commit writes through it, read the result
  * back — and returns data the DuckDB oracle reproduces from the source
  * parquet alone. A wrong write path (lost rows, broken partition
  * round-trip, upsert that doesn't replace) fails the hash compare.
  *
  * Each query wipes and rebuilds its own warehouse dir so runs are
  * idempotent (Verify and Bench both call them).
  */
object StorageOps {

  // s11 deferred-cleanup state — a generation QUEUE, not a single slot:
  // a getAndSet slot let call N+1 reclaim call N's tables while N's
  // returned DataFrame was possibly still unconsumed (same-JVM
  // concurrent suites, or any caller that holds the frame across a
  // later registry pass — ADVICE r9 #3). An entry is reclaimed only
  // once it is s11Lag generations old — every in-repo runner fully
  // consumes a returned frame well within one generation, so lagged
  // entries are dead by construction — and a JVM-exit hook drains the
  // remainder, so the live footprint stays ≤ s11Lag pairs either way.
  private val s11Calls = new java.util.concurrent.atomic.AtomicLong(0L)
  private val s11Lag = 4L
  private val s11Live =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[String], String)]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      var e = s11Live.poll()
      while (e != null) {
        // dirs only at exit — the session (and its in-JVM catalog) is
        // gone with the process, so DROP TABLE would be moot
        try graft.FsUtil.deleteRecursively(Paths.get(e._3))
        catch { case _: Throwable => () }
        e = s11Live.poll()
      }
    }, "graft-s11-scratch-reclaim"))
  }

  /** Live (not-yet-reclaimed) s11 generations — lets a spec pin the lag. */
  private[graft] def s11LiveCount: Int = s11Live.size

  private def scratch(name: String): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), "graft_warehouse", name)
    graft.FsUtil.deleteRecursively(p)
    Files.createDirectories(p)
    p.toString
  }

  /** The events round-trip projection shared by s4/s12/s13/s14 — one
    * definition of the column set and money rounding for every
    * write-path oracle row.
    */
  private def eventsSrc(t: graft.Tables): DataFrame =
    t.events.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), round(col("value"), 2).as("value"))

  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** S4/S6 — day-partitioned append table: two appends (the reference's
    * checkpointed commit cadence), then read back through the snapshot
    * log. Oracle = the same selection straight from the source, so the
    * round trip must preserve every row, type, and timestamp exactly.
    * Partition pruning: the `p_ts_day` filter below prunes to one day's
    * directories — at 100 TB this is the difference between reading one
    * day and reading the table.
    */
  val s4PartitionedWrite: QueryDef = QueryDef(
    "s4_partitioned_write",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
      |       round(value, 2) AS value
      |FROM events
      |WHERE event_type IN ('click', 'purchase')""".stripMargin) { t =>
    val wh = scratch("s4")
    val cat = new TableCatalog(t.spark, wh, Seq(
      TableDef("clicks_purchases", eventsSchema, Seq(DayTransform("ts")))))
    val tbl = cat.table("clicks_purchases")
    val src = eventsSrc(t)
    tbl.append(src.filter(col("event_type") === "click"))
    tbl.append(src.filter(col("event_type") === "purchase"))
    cat.checkDrift() // S7: declared schema still matches the live files
    tbl.readLogical()
  }

  /** S5 — keyed upsert: per-key aggregates for the first half-month are
    * committed, then the second half-month's keys are upserted over
    * them. Latest-wins per (user_id, event_type): the oracle reproduces
    * it with a FULL JOIN + COALESCE picking the second batch.
    */
  val s5UpsertLatest: QueryDef = QueryDef(
    "s5_upsert_latest",
    """WITH a AS (SELECT user_id, event_type, count(*) AS n,
      |                  round(sum(value), 2) AS total_value
      |           FROM events WHERE ts < TIMESTAMP '2024-01-16'
      |           GROUP BY user_id, event_type),
      |     b AS (SELECT user_id, event_type, count(*) AS n,
      |                  round(sum(value), 2) AS total_value
      |           FROM events WHERE ts >= TIMESTAMP '2024-01-16'
      |           GROUP BY user_id, event_type)
      |SELECT user_id, event_type,
      |       coalesce(b.n, a.n) AS n,
      |       coalesce(b.total_value, a.total_value) AS total_value
      |FROM a FULL JOIN b USING (user_id, event_type)""".stripMargin) { t =>
    val wh = scratch("s5")
    val schema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("n", LongType),
      StructField("total_value", DoubleType)))
    val cat = new TableCatalog(t.spark, wh, Seq(
      TableDef("user_type_metrics", schema, Nil, keys = Seq("user_id", "event_type"))))
    val tbl = cat.table("user_type_metrics")
    def half(cond: org.apache.spark.sql.Column): DataFrame =
      t.events.filter(cond)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
    val cut = lit("2024-01-16").cast("timestamp")
    tbl.upsert(half(col("ts") < cut))
    tbl.upsert(half(col("ts") >= cut))
    tbl.readLogical()
  }

  /** S10/M1 — snapshot metadata: an overwrite (CTAS) then an append,
    * then query the `$snapshots` analog. The oracle derives the same
    * (version, operation, row_count) history from the source counts, so
    * the commit log's bookkeeping itself is value-checked.
    */
  val s10Snapshots: QueryDef = QueryDef(
    "s10_snapshots",
    """SELECT 1 AS version, 'overwrite' AS operation,
      |       (SELECT count(*) FROM events) AS row_count
      |UNION ALL
      |SELECT 2, 'append',
      |       (SELECT count(*) FROM events)
      |         + (SELECT count(*) FROM events WHERE event_type = 'error')""".stripMargin) { t =>
    val wh = scratch("s10")
    val cat = new TableCatalog(t.spark, wh, Seq(TableDef("event_log", eventsSchema)))
    val tbl = cat.table("event_log")
    val src = t.events.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"))
    tbl.overwrite(src)
    tbl.append(src.filter(col("event_type") === "error"))
    tbl.snapshots.select(col("version"), col("operation"), col("row_count"))
  }

  /** S5 (merge-on-read form) — same upserts, same oracle as
    * [[s5UpsertLatest]], but each upsert commits ONLY its batch
    * (O(batch), the 100 TB streaming-upsert path) and the read resolves
    * latest-wins by commit sequence. Hash-matching the COW oracle proves
    * the two strategies are observably identical.
    */
  val s5UpsertMor: QueryDef = QueryDef(
    "s5_upsert_mor",
    """WITH a AS (SELECT user_id, event_type, count(*) AS n,
      |                  round(sum(value), 2) AS total_value
      |           FROM events WHERE ts < TIMESTAMP '2024-01-16'
      |           GROUP BY user_id, event_type),
      |     b AS (SELECT user_id, event_type, count(*) AS n,
      |                  round(sum(value), 2) AS total_value
      |           FROM events WHERE ts >= TIMESTAMP '2024-01-16'
      |           GROUP BY user_id, event_type)
      |SELECT user_id, event_type,
      |       coalesce(b.n, a.n) AS n,
      |       coalesce(b.total_value, a.total_value) AS total_value
      |FROM a FULL JOIN b USING (user_id, event_type)""".stripMargin) { t =>
    val wh = scratch("s5mor")
    val schema = StructType(Seq(
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("n", LongType),
      StructField("total_value", DoubleType)))
    val cat = new TableCatalog(t.spark, wh, Seq(
      TableDef("user_type_metrics_mor", schema, Nil,
        keys = Seq("user_id", "event_type"), mergeOnRead = true)))
    val tbl = cat.table("user_type_metrics_mor")
    def half(cond: org.apache.spark.sql.Column): DataFrame =
      t.events.filter(cond)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
    val cut = lit("2024-01-16").cast("timestamp")
    tbl.upsert(half(col("ts") < cut))
    tbl.upsert(half(col("ts") >= cut))
    tbl.readLogical()
  }

  /** S11 — bucketed co-located join: both fact tables are written
    * bucketed on the join key (Spark's `bucketBy` + sorted buckets), so
    * the join AND the follow-on per-key aggregation run with ZERO
    * Exchange — the layout carries the partitioning across jobs. This
    * is the storage-side answer to the biggest 100 TB shuffle: a
    * fact-to-fact join on a shared key (order enrichment, funnel
    * stitching) re-shuffles terabytes on EVERY query unless the layout
    * already agrees; bucketing moves that shuffle to write time, once.
    * PlanSpec pins the no-Exchange property. The oracle reproduces the
    * join from the source parquet — bucketing must not change a row.
    * (The snapshot-log tables solve orthogonal problems — commits,
    * time travel, repair; bucketing is Spark's native co-location seam
    * and composes with them at the file layout level.)
    */
  val s11BucketedJoin: QueryDef = QueryDef(
    "s11_bucketed_join",
    """SELECT o.o_orderkey, o.o_orderpriority,
      |       CAST(count(*) AS BIGINT) AS n_lines,
      |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_orderstatus = 'F'
      |GROUP BY o.o_orderkey, o.o_orderpriority""".stripMargin) { t =>
    // PER-CALL unique catalog names AND scratch dir (pid + start time
    // + call counter): bucketBy must go through the session catalog,
    // and a globally FIXED name would let two concurrent runs
    // (parallel suites, bench + verify sharing a metastore) clobber
    // each other's table entry or files mid-read. The footprint stays
    // BOUNDED via LAGGED deferred cleanup (see s11Live above): each
    // call reclaims only pairs at least s11Lag generations stale, so a
    // concurrent or still-held previous DataFrame is never yanked.
    val gen = s11Calls.incrementAndGet()
    val runId = {
      val ph = java.lang.ProcessHandle.current()
      val t0 = ph.info().startInstant()
        .map[Long](_.toEpochMilli).orElse(0L)
      s"${ph.pid()}_${java.lang.Long.toHexString(t0)}_$gen"
    }
    val wh = scratch(s"s11_$runId")
    val spark = t.spark
    val names = Seq(s"graft_b_orders_$runId", s"graft_b_lineitem_$runId")
    s11Live.add((gen, names, wh))
    var stale = s11Live.peek()
    // remove() is the claim: if another caller already claimed the
    // entry this loop simply stops — each pair is reclaimed exactly once
    while (stale != null && stale._1 <= gen - s11Lag && s11Live.remove(stale)) {
      stale._2.foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
      graft.FsUtil.deleteRecursively(Paths.get(stale._3))
      stale = s11Live.peek()
    }
    val B = 8
    def bucketed(df: DataFrame, name: String, key: String): DataFrame = {
      df.write.mode("overwrite")
        .option("path", s"$wh/$name")
        .bucketBy(B, key).sortBy(key)
        .saveAsTable(name)
      spark.table(name)
    }
    val o = bucketed(
      t.orders.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderpriority")),
      names(0), "o_orderkey")
    val l = bucketed(
      t.lineitem.select(col("l_orderkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents")),
      names(1), "l_orderkey")
    // "merge" hint: at test scale the tiny orders side would
    // auto-broadcast, hiding the property under test; at 100 TB both
    // sides are facts and sort-merge over agreeing buckets IS the plan.
    // The join's output keeps both sides' HashPartitioning, so the
    // groupBy on the bucket key needs no Exchange either.
    o.hint("merge").join(l, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"), sum(col("cents")).as("revenue_cents"))
  }

  /** M7 — compaction round trip, oracle-checked: many small commits
    * (one per event-type — the streaming-sink sliver pattern), then a
    * bin-packing compact, then read through the snapshot log. The
    * oracle reproduces the selection straight from the source, so
    * compaction must preserve every row and value while physically
    * rewriting the layout; the file-count collapse itself is asserted
    * in-query (a compaction that didn't compact would still
    * hash-match). Upgrades M7 from spec-only to a named oracle row.
    */
  val s12CompactRoundtrip: QueryDef = QueryDef(
    "s12_compact_roundtrip",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
      |       round(value, 2) AS value
      |FROM events""".stripMargin) { t =>
    val wh = scratch("s12")
    val cat = new TableCatalog(t.spark, wh, Seq(TableDef("compact_t", eventsSchema)))
    val tbl = cat.table("compact_t")
    val src = eventsSrc(t)
    // a total split (hash of the key mod 5), NOT a filter per known
    // event-type value: an unanticipated sixth type or a NULL would
    // silently vanish from a value-keyed split, and this row's job is
    // exactly "compaction loses nothing"
    for (i <- 0 until 5)
      tbl.append(src.filter(pmod(col("event_id"), lit(5)) === i))
    val before = tbl.readLogical().inputFiles.length
    tbl.compact()
    val after = tbl.readLogical().inputFiles.length
    require(after < before,
      s"compaction did not reduce the file count ($before -> $after)")
    tbl.readLogical()
  }

  /** S10/M8 read side — TIME TRAVEL, oracle-checked: version 1 is the
    * pre-2024-01-16 slice, version 2 appends the rest; reading AS OF
    * each version must reproduce exactly the slice each commit saw,
    * tagged and unioned so one hash covers both. The oracle rebuilds
    * the same union from the source with the same cutoff — a time
    * travel that leaked post-cutoff rows into version 1 (or lost any
    * in version 2) fails the compare.
    */
  val s13TimeTravel: QueryDef = QueryDef(
    "s13_time_travel",
    """SELECT 1 AS as_of, event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
      |       event_type, round(value, 2) AS value
      |FROM events WHERE ts < TIMESTAMP '2024-01-16'
      |UNION ALL
      |SELECT 2, event_id, CAST(ts AS TIMESTAMP), user_id,
      |       event_type, round(value, 2)
      |FROM events""".stripMargin) { t =>
    val wh = scratch("s13")
    val cat = new TableCatalog(t.spark, wh, Seq(TableDef("travel_t", eventsSchema)))
    val tbl = cat.table("travel_t")
    val src = eventsSrc(t)
    val cut = lit("2024-01-16").cast("timestamp")
    tbl.append(src.filter(col("ts") < cut))
    tbl.append(src.filter(col("ts") >= cut))
    tbl.readLogical(Some(1)).withColumn("as_of", lit(1))
      .unionByName(tbl.readLogical(Some(2)).withColumn("as_of", lit(2)))
      .select(col("as_of"), col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
  }

  /** M7 (z-order form) — clustering rewrite round trip: the z-order
    * compaction REORDERS every row (interleaved user_id/event_id bits)
    * to give footer pruning a second effective column, which makes it
    * the rewrite most worth value-pinning — a bit-interleave bug that
    * dropped or duplicated rows at a cluster boundary would hash-fail
    * here. File-level pruning effects are TablesSpec's; this row pins
    * "rewrite touches nothing but layout" cross-engine.
    */
  val s14ZOrderRoundtrip: QueryDef = QueryDef(
    "s14_zorder_roundtrip",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
      |       round(value, 2) AS value
      |FROM events""".stripMargin) { t =>
    val wh = scratch("s14")
    val cat = new TableCatalog(t.spark, wh, Seq(TableDef("zorder_t", eventsSchema)))
    val tbl = cat.table("zorder_t")
    val src = eventsSrc(t)
    tbl.append(src)
    tbl.compactZOrder(Seq("user_id", "event_id"), targetBytes = 64L * 1024)
    tbl.readLogical()
  }

  /** M8 — snapshot expiry + orphan cleanup, oracle-checked (upgrades
    * M8 from spec-only to a named driver row, the `s12` treatment):
    * maintenance must reclaim history without disturbing the current
    * read. Two legs under one hash, the two retention semantics:
    *
    *  - **cow**: the s12 sliver pattern (5 hash-split appends) +
    *    compact, then `expireSnapshots(0)` — exactly the 5 superseded
    *    append commits expire (the compact commit survives as
    *    current) — and
    *    `removeOrphans()` reclaims every pre-compact file. The leg
    *    re-reads the collapsed log and must still serve the full
    *    source.
    *  - **mor**: append + two keyed revisions on a merge-on-read
    *    table. The FIRST expire, before compaction, retires both older
    *    commits — the head's manifest entries carry every file's
    *    sequence number (Iceberg v2's data sequence numbers) — and the
    *    re-read must still equal the source's latest-wins revision.
    *    After compact materializes the merge, the same call retires
    *    the pre-compact head and orphan cleanup reclaims the
    *    superseded row files. The leg must serve the revised
    *    latest-wins content — value₂ = base+2 where event_id%5=0
    *    (second revision wins), else base+1 where %3=0, else base —
    *    which the oracle restates as a CASE over the source.
    *
    * The counts and the pre-compaction read are `require`d in-query
    * (an expiry that silently retired nothing would still
    * hash-match); the hash pins that reclamation never changes what
    * the table serves.
    */
  val s15ExpireOrphans: QueryDef = QueryDef(
    "s15_expire_orphans",
    """SELECT 'cow' AS leg, event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
      |       event_type, round(value, 2) AS value
      |FROM events
      |UNION ALL
      |SELECT 'mor', event_id, CAST(ts AS TIMESTAMP), user_id, event_type,
      |       CASE WHEN event_id % 5 = 0 THEN round(value, 2) + 2
      |            WHEN event_id % 3 = 0 THEN round(value, 2) + 1
      |            ELSE round(value, 2) END
      |FROM events""".stripMargin) { t =>
    val wh = scratch("s15")
    val cat = new TableCatalog(t.spark, wh, Seq(
      TableDef("expire_cow", eventsSchema),
      TableDef("expire_mor", eventsSchema, keys = Seq("event_id"),
        mergeOnRead = true)))
    val src = eventsSrc(t)

    val cow = cat.table("expire_cow")
    for (i <- 0 until 5)
      cow.append(src.filter(pmod(col("event_id"), lit(5)) === i))
    cow.compact()
    val cowFilesBefore = cow.commits.flatMap(_.files).distinct.size
    // retention 0 expires strictly-older commits; a commit landing in
    // the same millisecond as the expiry call would survive — park one
    // tick so the cutoff is strictly after every commit timestamp
    Thread.sleep(2)
    val nCowExpired = cow.expireSnapshots(0L)
    require(nCowExpired == 5 && cow.commits.size == 1,
      s"cow expiry: expected 5 retired / 1 live commit, got $nCowExpired/${cow.commits.size}")
    val nCowOrphans = cow.removeOrphans()
    require(nCowOrphans > 0 && cowFilesBefore > cow.head.files.size,
      s"cow orphan sweep reclaimed nothing ($nCowOrphans of $cowFilesBefore)")

    val mor = cat.table("expire_mor")
    mor.append(src)
    mor.upsert(src.filter(pmod(col("event_id"), lit(3)) === 0)
      .withColumn("value", col("value") + 1))
    mor.upsert(src.filter(pmod(col("event_id"), lit(5)) === 0)
      .withColumn("value", col("value") + 2))
    // the head carries every live file's sequence number: expiry
    // retires both older commits and the latest-wins read holds
    Thread.sleep(2)
    val nMorEarly = mor.expireSnapshots(0L)
    require(nMorEarly == 2 && mor.commits.size == 1,
      s"mor expiry before compact: expected 2 retired / 1 live, got $nMorEarly/${mor.commits.size}")
    val revised = src.withColumn("value",
      when(pmod(col("event_id"), lit(5)) === 0, col("value") + 2)
        .when(pmod(col("event_id"), lit(3)) === 0, col("value") + 1)
        .otherwise(col("value")))
    val morRead = mor.readLogical()
    require(morRead.exceptAll(revised).isEmpty && revised.exceptAll(morRead).isEmpty,
      "mor read after expiry differs from the source's latest-wins revision")
    mor.compact()
    Thread.sleep(2)
    val nMorExpired = mor.expireSnapshots(0L)
    require(nMorExpired == 1 && mor.commits.size == 1,
      s"mor expiry after compact: expected 1 retired / 1 live, got $nMorExpired/${mor.commits.size}")
    require(mor.removeOrphans() > 0, "mor orphan sweep reclaimed nothing")

    cow.readLogical().withColumn("leg", lit("cow"))
      .unionByName(mor.readLogical().withColumn("leg", lit("mor")))
      .select(col("leg"), col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
  }

  /** M9 — purge isolation, oracle-checked (the last §2 maintenance
    * operator with any checkable observable): purge wipes ONE table's
    * data and commit log entirely and must touch NOTHING else in the
    * shared warehouse. Two sibling tables under one catalog root; the
    * doomed one takes extra commits (so there is real state to
    * destroy), gets purged, and the row then requires the purged
    * table's files/log GONE (and its read to come back empty) while
    * serving the SURVIVOR's full content for the cross-engine hash — a
    * purge that leaked into its sibling's directory fails the compare,
    * one that left the doomed table readable fails the requires.
    */
  val m9PurgeIsolation: QueryDef = QueryDef(
    "m9_purge_isolation",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
      |       round(value, 2) AS value
      |FROM events""".stripMargin) { t =>
    val wh = scratch("m9")
    val cat = new TableCatalog(t.spark, wh, Seq(
      TableDef("purge_keep", eventsSchema),
      TableDef("purge_doomed", eventsSchema)))
    val src = eventsSrc(t)
    val keep = cat.table("purge_keep")
    val doomed = cat.table("purge_doomed")
    keep.append(src)
    for (i <- 0 until 3)
      doomed.append(src.filter(pmod(col("event_id"), lit(3)) === i))
    doomed.compact()
    cat.purge("purge_doomed")
    require(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(wh, "purge_doomed")),
      "purge left the doomed table's directory behind")
    require(cat.table("purge_doomed").commits.isEmpty,
      "purge left commit-log entries behind")
    keep.readLogical()
  }

  /** S10-family — incremental changelog read ([[GraftTable.readChanges]],
    * the Iceberg incremental-append-scan analog): a consumer that was
    * at snapshot N asks for everything committed since. Three legs
    * under one hash: the first append's delta (v1), the second
    * append's delta (v2) — each read from exactly the files its commit
    * ADDED, tagged with the introducing version — and the range
    * crossing ONLY the compact commit (v3), which MUST contribute zero
    * rows (a layout rewrite has no logical delta; emitting its files
    * would replay the whole table into every downstream consumer).
    * Upsert-changelog semantics and the rewrite refusal are
    * ChangelogSpec's; this row pins the file-delta bookkeeping
    * cross-engine. At 100 TB the property under test is the cost
    * shape: a poll pays O(new files since last poll), never O(table).
    */
  val s16IncrementalRead: QueryDef = QueryDef(
    "s16_incremental_read",
    """SELECT 1 AS leg, 1 AS change_version, 'insert' AS change_type,
      |       event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
      |       round(value, 2) AS value
      |FROM events WHERE ts < TIMESTAMP '2024-01-16'
      |UNION ALL
      |SELECT 2, 2, 'insert', event_id, CAST(ts AS TIMESTAMP), user_id,
      |       event_type, round(value, 2)
      |FROM events WHERE ts >= TIMESTAMP '2024-01-16'""".stripMargin) { t =>
    val wh = scratch("s16")
    val cat = new TableCatalog(t.spark, wh, Seq(TableDef("incr_t", eventsSchema)))
    val tbl = cat.table("incr_t")
    val src = eventsSrc(t)
    val cut = lit("2024-01-16").cast("timestamp")
    tbl.append(src.filter(col("ts") < cut))
    tbl.append(src.filter(col("ts") >= cut))
    tbl.compact() // v3: layout-only (both appends merge into one file)
    def leg(n: Int, from: Int, to: Int) =
      tbl.readChanges(from, to).withColumn("leg", lit(n))
    leg(1, 0, 1).unionByName(leg(2, 1, 2)).unionByName(leg(3, 2, 3))
      .select(col("leg"), col("_change_version").as("change_version"),
        col("_change_type").as("change_type"), col("event_id"), col("ts"),
        col("user_id"), col("event_type"), col("value"))
  }

  /** S17 — changelog replay ACROSS a change-tracked repair: two appends,
    * then a `replaceWhere(..., trackChanges = true)` that rewrites every
    * 'error' event's value to 0 (a repair-shaped correction). The row's
    * output is the table RECONSTRUCTED from `readChanges(0, 3)` alone —
    * inserts (appends + the repair's replacement rows) multiset-MINUS
    * the repair's delete rows (`exceptAll`, the changelog consumer
    * contract) — and the oracle states the expected final table
    * directly, so reconstruction == direct recompute is the proof that
    * a downstream incremental consumer needs no full resync after a
    * tracked repair (the CDC hole Iceberg's changelog-over-delete-files
    * closes the same way). Cost note: tracking is OPT-IN — the default
    * repair path (M4–M6) pays no delete-file writes.
    */
  val s17ChangelogReplace: QueryDef = QueryDef(
    "s17_changelog_replace",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
      |       CASE WHEN event_type = 'error' THEN 0.0 ELSE round(value, 2) END AS value
      |FROM events""".stripMargin) { t =>
    val wh = scratch("s17")
    val cat = new TableCatalog(t.spark, wh, Seq(TableDef("cdc_t", eventsSchema)))
    val tbl = cat.table("cdc_t")
    val src = eventsSrc(t)
    val cut = lit("2024-01-16").cast("timestamp")
    tbl.append(src.filter(col("ts") < cut))                      // v1
    tbl.append(src.filter(col("ts") >= cut))                     // v2
    tbl.replaceWhere(col("event_type") === "error",              // v3 (tracked)
      src.filter(col("event_type") === "error").withColumn("value", lit(0.0)),
      trackChanges = true)
    val ch = tbl.readChanges(0, 3)
    val cols = eventsSchema.fieldNames.map(col)
    ch.filter(col("_change_type") =!= "delete").select(cols: _*)
      .exceptAll(ch.filter(col("_change_type") === "delete").select(cols: _*))
  }

  /** S18/S7 — schema evolution end to end (the query-shaped observable
    * for the S7 drift layer): a table created with a NARROW schema takes
    * its first append, gains two columns via a metadata-only
    * `evolve-schema` commit (zero data rewritten — the lakehouse
    * contract that matters at 100 TB, where an ALTER TABLE that
    * rewrites is a non-starter), takes a second append under the wide
    * schema, then drops a column the same way. The final read must
    * null-fill the added columns for pre-evolution rows and project the
    * dropped column away everywhere — which the DuckDB oracle
    * reproduces from the source parquet with a CASE on the evolution
    * cut. A read path that re-read old files with the wrong schema, or
    * an evolve commit that touched data files, fails the hash compare.
    */
  val s18SchemaEvolution: QueryDef = QueryDef(
    "s18_schema_evolution",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts,
      |       CASE WHEN ts < TIMESTAMP '2024-01-16' THEN NULL
      |            ELSE event_type END AS event_type,
      |       CASE WHEN ts < TIMESTAMP '2024-01-16' THEN NULL
      |            ELSE round(value, 2) END AS value
      |FROM events""".stripMargin) { t =>
    val wh = scratch("s18")
    val narrow = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType)))
    val cat = new TableCatalog(t.spark, wh, Seq(TableDef("evo_t", narrow)))
    val tbl = cat.table("evo_t")
    val src = eventsSrc(t)
    val cut = lit("2024-01-16").cast("timestamp")
    tbl.append(src.filter(col("ts") < cut))                       // v1 (narrow)
    tbl.addColumns(                                               // v2 (metadata-only)
      StructField("event_type", StringType),
      StructField("value", DoubleType))
    tbl.append(src.filter(col("ts") >= cut))                      // v3 (wide)
    tbl.dropColumns("user_id")                                    // v4 (metadata-only)
    cat.checkDrift() // evolved declaration vs live files: clean
    tbl.readLogical()
  }

  /** S19 — write-audit-publish round trip (Iceberg branches +
    * `fast_forward`, the pattern the reference's DQ layer implies: land
    * a batch, gate it, only then let consumers see it). The second
    * day's batch is staged on an `audit` branch — a full table view
    * over the same data dir with its own commit log — audited with the
    * engine's own DQ predicate (the P5 reject rules), and fast-forwarded
    * onto main; a second, deliberately poisoned branch FAILS its audit
    * and is dropped, with orphan cleanup reclaiming its files. The
    * oracle sees only the published world: if staging leaked into main,
    * the poisoned batch survived, or the publish lost a commit, the
    * hash compare fails.
    */
  val s19WapPublish: QueryDef = QueryDef(
    "s19_wap_publish",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
      |       round(value, 2) AS value
      |FROM events""".stripMargin) { t =>
    val wh = scratch("s19")
    val cat = new TableCatalog(t.spark, wh, Seq(TableDef("wap_t", eventsSchema)))
    val tbl = cat.table("wap_t")
    val src = eventsSrc(t)
    val cut = lit("2024-01-16").cast("timestamp")
    tbl.append(src.filter(col("ts") < cut))                       // main v1
    // stage day 2 on the audit branch; main must not see it yet
    val audit = tbl.createBranch("audit")
    audit.append(src.filter(col("ts") >= cut))
    val staged = audit.readLogical()
    val auditOk = staged.filter(
      col("event_id").isNull || col("ts").isNull || col("value") < 0).isEmpty
    require(auditOk && tbl.currentVersion == 1, "audit gate broken")
    tbl.fastForward("audit")                                      // publish → main v2
    // a poisoned batch fails its audit and never reaches main
    val bad = tbl.createBranch("audit2")
    bad.append(staged.limit(50).withColumn("value", lit(-1.0)))
    val badOk = bad.readLogical().filter(col("value") < 0).isEmpty
    require(!badOk, "poisoned batch should fail the audit")
    tbl.dropBranch("audit2")
    tbl.removeOrphans()
    tbl.readLogical()
  }

  /** S20 — merge-on-read equality DELETE through the oracle (Iceberg
    * v2 delete files, the erasure path the reference's upsert tables
    * imply): two streamed-cadence upserts land the events, then every
    * `error` event's KEY is deleted by writing one tombstone file —
    * zero data rewritten, the only delete shape that survives a
    * continuous retraction feed at 100 TB. The returned read resolves
    * tombstones inside the latest-wins merge (the un-compacted path —
    * the novel read-side code), which the DuckDB oracle reproduces with
    * a WHERE on the source; a tombstone that leaks superseded rows,
    * kills the wrong sequence, or misses a key fails the hash compare.
    */
  val s20MorDelete: QueryDef = QueryDef(
    "s20_mor_delete",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
      |       round(value, 2) AS value
      |FROM events WHERE event_type <> 'error'""".stripMargin) { t =>
    val wh = scratch("s20")
    val cat = new TableCatalog(t.spark, wh, Seq(
      TableDef("mord_t", eventsSchema, keys = Seq("event_id"), mergeOnRead = true)))
    val tbl = cat.table("mord_t")
    val src = eventsSrc(t)
    val cut = lit("2024-01-16").cast("timestamp")
    tbl.upsert(src.filter(col("ts") < cut))                       // v1
    tbl.upsert(src.filter(col("ts") >= cut))                      // v2
    tbl.deleteKeys(src.filter(col("event_type") === "error"))     // v3 (tombstone)
    tbl.readLogical()
  }

  /** S21 — partition-spec evolution end to end (Iceberg's headline
    * evolution feature): a day-partitioned table takes its first
    * append, switches to HOUR partitioning in a metadata-only commit
    * (zero data rewritten — nobody rewrites 100 TB because the
    * partitioning got finer), and takes a second append under the new
    * layout. The returned read unions the two directory-layout
    * generations transparently (each read with its own spec, from the
    * per-file provenance the commit log records); compact() then
    * migrates the old generation and the re-read must be identical —
    * both states must hash-match the oracle's single-shot select, so a
    * mis-grouped file (wrong layout → wrong rows) fails loudly.
    */
  val s21PartitionEvolution: QueryDef = QueryDef(
    "s21_partition_evolution",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
      |       round(value, 2) AS value
      |FROM events WHERE ts < TIMESTAMP '2024-01-04'""".stripMargin) { t =>
    val wh = scratch("s21")
    val cat = new TableCatalog(t.spark, wh, Seq(
      TableDef("pevo_t", eventsSchema, partitions = Seq(DayTransform("ts")))))
    val tbl = cat.table("pevo_t")
    // a 3-day slice: hour-partitioning a month of events would mint
    // ~720 directories at bench scale — the slice keeps the row about
    // the EVOLUTION mechanics (48 hour dirs), not small-file pressure
    val src = eventsSrc(t).filter(col("ts") < lit("2024-01-04").cast("timestamp"))
    val cut = lit("2024-01-02").cast("timestamp")
    tbl.append(src.filter(col("ts") < cut))                       // v1 (day layout)
    tbl.evolvePartitioning(Seq(HourTransform("ts")))              // v2 (metadata-only)
    tbl.append(src.filter(col("ts") >= cut))                      // v3 (hour layout)
    // the mixed-generation logical read works immediately...
    require(tbl.readLogical().count() > 0 && tbl.needsCompaction(),
      "mixed generations expected")
    tbl.compact()                                                 // v4 migrates the layout
    require(tbl.read().columns.contains("p_ts_hour"), "migration must land on hour")
    // ...and the post-migration read must hash-match the same oracle
    // (mixed == migrated row-for-row is additionally pinned at unit
    // scale in PartitionEvolutionSpec — cheaper than an exceptAll here)
    tbl.readLogical()
  }

  /** S22 — rollback_to_snapshot through the oracle: a poisoned second
    * batch lands (negative money — the kind of producer bug a DQ gate
    * catches a commit late), `rollback` restores the v1 head in a
    * METADATA-ONLY commit (the bad snapshot stays time-travelable for
    * the incident review), and the corrected batch then lands on the
    * rolled-back head. The oracle sees only the final lineage: a
    * rollback that leaked poisoned rows, dropped good ones, or broke
    * the subsequent append fails the hash compare.
    */
  val s22Rollback: QueryDef = QueryDef(
    "s22_rollback",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
      |       round(value, 2) AS value
      |FROM events""".stripMargin) { t =>
    val wh = scratch("s22")
    val cat = new TableCatalog(t.spark, wh, Seq(TableDef("rb_t", eventsSchema)))
    val tbl = cat.table("rb_t")
    val src = eventsSrc(t)
    val cut = lit("2024-01-16").cast("timestamp")
    val day2 = src.filter(col("ts") >= cut)
    tbl.append(src.filter(col("ts") < cut))                       // v1
    tbl.append(day2.withColumn("value", lit(-1.0)))               // v2 (poisoned)
    require(tbl.readLogical().filter(col("value") < 0).count() > 0)
    tbl.rollback(1)                                               // v3 (metadata-only)
    tbl.append(day2)                                              // v4 (corrected)
    tbl.readLogical()
  }

  /** S23 — declared write sort order (Iceberg `write.sort-order`):
    * appends to the ts-sorted table range-distribute + sort, so each
    * file's footer covers a disjoint time slice and a one-day range
    * read opens a strict subset of the live files (required in-row —
    * the pruning is the point, z-order covers the multi-column rewrite
    * case and this covers WRITE-TIME clustering for plain appends).
    * Returned data round-trips exactly; the events arrive pre-shuffled
    * so an unsorted write would leave nothing to prune.
    */
  val s23SortOrder: QueryDef = QueryDef(
    "s23_sort_order",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
      |       round(value, 2) AS value
      |FROM events""".stripMargin) { t =>
    val wh = scratch("s23")
    val cat = new TableCatalog(t.spark, wh, Seq(
      TableDef("sorted_t", eventsSchema, sortOrder = Seq("ts"))))
    val tbl = cat.table("sorted_t")
    // shuffled arrival: hash-scatter the rows so write-time sorting is
    // the ONLY source of clustering
    val src = eventsSrc(t).repartition(8, col("event_id"))
    val cut = lit("2024-01-16").cast("timestamp")
    // at oracle scales AQE would coalesce the tiny range shuffle into
    // one file and leave nothing to prune — a real deployment's appends
    // land many range-disjoint files without help
    val k = "spark.sql.adaptive.coalescePartitions.enabled"
    val prior = t.spark.conf.getOption(k)
    t.spark.conf.set(k, "false")
    try {
      tbl.append(src.filter(col("ts") < cut))
      tbl.append(src.filter(col("ts") >= cut))
    } finally prior match {
      case Some(v) => t.spark.conf.set(k, v)
      case None => t.spark.conf.unset(k)
    }
    val total = tbl.head.files.size
    val opened = tbl.readRangeLogical("ts",
      java.sql.Timestamp.valueOf("2024-01-10 00:00:00").getTime * 1000L,
      java.sql.Timestamp.valueOf("2024-01-10 23:59:59").getTime * 1000L)
      .inputFiles.length
    require(total >= 3 && opened * 2 <= total,
      s"sorted appends must prune a day read ($opened of $total files)")
    tbl.readLogical()
  }

  /** S24 — column RENAME end to end (the one ALTER the engine refused
    * until now; Iceberg renames safely via field ids, this format via
    * versioned name provenance in the commit log — see
    * [[graft.tables.GraftTable.renameColumn]]): the first batch lands
    * under `value`, a METADATA-ONLY commit renames it to `amount`
    * (zero data rewritten — required in-row), the second batch lands
    * under the new name, and the mixed-epoch read must serve BOTH
    * batches' values under `amount` — a rename that null-filled
    * pre-rename files (the classic name-resolution failure) loses half
    * the money column and fails the hash. compact() then migrates the
    * stale-named files and the re-read must be identical, so both the
    * aliased mixed-epoch path and the migrated layout are pinned under
    * one oracle.
    */
  val s24Rename: QueryDef = QueryDef(
    "s24_rename",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
      |       round(value, 2) AS amount
      |FROM events""".stripMargin) { t =>
    val wh = scratch("s24")
    val cat = new TableCatalog(t.spark, wh, Seq(TableDef("rename_t", eventsSchema)))
    val tbl = cat.table("rename_t")
    val src = eventsSrc(t)
    val cut = lit("2024-01-16").cast("timestamp")
    tbl.append(src.filter(col("ts") < cut))                       // v1: stores 'value'
    val filesBefore = tbl.head.files.toSet
    tbl.renameColumn("value", "amount")                           // v2: metadata-only
    require(tbl.head.files.toSet == filesBefore,
      "rename must not rewrite data files")
    tbl.append(src.filter(col("ts") >= cut)                       // v3: stores 'amount'
      .withColumnRenamed("value", "amount"))
    cat.checkDrift() // a rename alone must not read as drift
    // the mixed-epoch read serves everything under the new name...
    val mixed = tbl.readLogical()
    require(mixed.filter(col("amount").isNull).count() == 0,
      "pre-rename files must serve values under the new name, not nulls")
    require(tbl.needsCompaction(), "stale-named files flag the migration")
    tbl.compact()                                                 // v4 migrates the names
    // ...and the post-migration read must hash-match the same oracle
    tbl.readLogical()
  }

  /** S25 — position deletes through the oracle (Iceberg v2's second
    * delete-file kind, the shape `DELETE FROM ... WHERE <non-key
    * predicate>` writes): the events land in two appends, then every
    * `error` row is deleted by writing ONE (file, row-index) tombstone
    * file — zero data rewritten (required in-row), O(matches) tombstone
    * bytes, where the COW alternative ([[graft.tables.GraftTable
    * .replaceWhere]]) rewrites every overlapping file. Two legs under
    * one hash: `live` reads through the anti-join path (the novel
    * read-side code), `compacted` reads after compaction rewrote
    * exactly the referenced files and cleared the tombstones — both
    * must serve the identical WHERE-filtered world the DuckDB oracle
    * states directly. A tombstone that killed the wrong (file, pos),
    * leaked a deleted row, or lost one at the compaction boundary
    * fails the hash compare.
    */
  val s25PosDelete: QueryDef = QueryDef(
    "s25_pos_delete",
    """SELECT 'live' AS leg, event_id, CAST(ts AS TIMESTAMP) AS ts, user_id,
      |       event_type, round(value, 2) AS value
      |FROM events WHERE event_type <> 'error'
      |UNION ALL
      |SELECT 'compacted', event_id, CAST(ts AS TIMESTAMP), user_id,
      |       event_type, round(value, 2)
      |FROM events WHERE event_type <> 'error'""".stripMargin) { t =>
    val wh = scratch("s25")
    val cat = new TableCatalog(t.spark, wh, Seq(TableDef("posdel_t", eventsSchema)))
    val tbl = cat.table("posdel_t")
    val src = eventsSrc(t)
    val cut = lit("2024-01-16").cast("timestamp")
    tbl.append(src.filter(col("ts") < cut))                       // v1
    tbl.append(src.filter(col("ts") >= cut))                      // v2
    val filesBefore = tbl.head.files.toSet
    tbl.deleteWhere(col("event_type") === "error")                // v3 (tombstone)
    require(tbl.head.files.toSet == filesBefore,
      "position delete must not rewrite data files")
    val live = tbl.readLogical().withColumn("leg", lit("live"))
    require(tbl.needsCompaction(), "pending position deletes flag compaction")
    tbl.compact()                                                 // v4 materializes
    require(tbl.head.posDeleteFiles.isEmpty,
      "compaction must clear the tombstone map")
    val compacted = tbl.readLogical().withColumn("leg", lit("compacted"))
    live.unionByName(compacted)
      .select(col("leg"), col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
  }

  /** S26 — PARTITIONED z-order through the oracle (round 14's
    * within-partition rewrite): a day-partitioned table takes the full
    * events set, then the clustering rewrite range-distributes on
    * (partition value, z(user_id, event_id)) and writes DIRECTLY
    * (bypassing the one-task-per-partition distribution that would
    * collapse the z split) — the one write path in the engine that
    * doesn't go through writeFiles' repartition, so it gets its own
    * cross-engine content pin: the read-back must hash-match the plain
    * source select exactly (a boundary slice split across directories
    * that dropped or duplicated rows fails here). The multi-file
    * per-directory split and the two-column pruning are TablesSpec's;
    * this row pins "the rewrite touches nothing but layout".
    */
  val s26ZOrderPartitioned: QueryDef = QueryDef(
    "s26_zorder_partitioned",
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
      |       round(value, 2) AS value
      |FROM events""".stripMargin) { t =>
    val wh = scratch("s26")
    val cat = new TableCatalog(t.spark, wh, Seq(
      TableDef("zorderp_t", eventsSchema, partitions = Seq(DayTransform("ts")))))
    val tbl = cat.table("zorderp_t")
    tbl.append(eventsSrc(t))
    tbl.compactZOrder(Seq("user_id", "event_id"), targetBytes = 64L * 1024)
    require(tbl.head.files.forall(_.contains("p_ts_day=")),
      "rewrite must keep the partition directory layout")
    tbl.readLogical()
  }

  /** S27 — the `$manifests` metadata surface, content-pinned: commit
    * metadata (manifest entries' record counts and write-time `ts`
    * bounds) must reconstruct the source aggregate EXACTLY, without
    * touching a data file — rows from the entries' `r`, the time span
    * from the entries' per-column bounds. The DuckDB oracle recomputes
    * count/min/max from the raw source, so a manifest that dropped an
    * entry, double-counted a carried file, or recorded a wrong bound
    * hash-mismatches. A footer-probe counter guard asserts the ZERO
    * data-file-IO property directly; chunk-count >= 2 proves the
    * aggregate spans multiple chunks (carry + fresh), not one blob.
    */
  val s27Manifests: QueryDef = QueryDef(
    "s27_manifests",
    """SELECT count(*) AS n_rows,
      |       min(CAST(ts AS TIMESTAMP)) AS min_ts,
      |       max(CAST(ts AS TIMESTAMP)) AS max_ts
      |FROM events""".stripMargin) { t =>
    val wh = scratch("s27")
    val cat = new TableCatalog(t.spark, wh, Seq(TableDef("event_log", eventsSchema)))
    val tbl = cat.table("event_log")
    val src = eventsSrc(t)
    tbl.append(src.filter(col("event_type") =!= "error")) // chunk 1
    tbl.append(src.filter(col("event_type") === "error")) // chunk 2 (carry + fresh)
    val probes = GraftTable.footerProbeCount.get()
    val entries = tbl.manifestEntries
    require(entries.map(_._1).distinct.size >= 2,
      "expected the live set to span multiple manifest chunks")
    val bounds = entries.flatMap(_._2.b).filter(_.c == "ts")
    require(bounds.nonEmpty, "manifest entries carry no ts bounds")
    require(GraftTable.footerProbeCount.get() == probes,
      "manifest reconstruction paid data-file footer IO")
    import t.spark.implicits._
    Seq((entries.map(_._2.r).sum, bounds.map(_.lo).min, bounds.map(_.hi).max))
      .toDF("n_rows", "lo", "hi")
      .select(col("n_rows"),
        timestamp_micros(col("lo")).as("min_ts"),
        timestamp_micros(col("hi")).as("max_ts"))
  }

  val all: Seq[QueryDef] =
    Seq(s4PartitionedWrite, s5UpsertLatest, s5UpsertMor, s10Snapshots,
      s11BucketedJoin, s12CompactRoundtrip, s13TimeTravel, s14ZOrderRoundtrip,
      s15ExpireOrphans, s16IncrementalRead, s17ChangelogReplace,
      s18SchemaEvolution, s19WapPublish, s20MorDelete, s21PartitionEvolution,
      s22Rollback, s23SortOrder, s24Rename, s25PosDelete, s26ZOrderPartitioned,
      s27Manifests, m9PurgeIsolation)
}
