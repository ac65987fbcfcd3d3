package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming 3-stage funnel (J3: view →≤30 min→ click →≤2 h→ purchase)
  * as ONE custom stateful operator.
  *
  * Why not chained stream-stream joins: after a time-interval join the
  * result carries two event-time columns, and Spark (like Flink — the
  * reference's own comment at aggregation_jobs.sql:20-23 records the
  * same limitation) cannot run a second stateful join on top. The
  * Spark-native alternative is `flatMapGroupsWithState` keyed by
  * user_id: buffer the user's recent events, and emit a view's funnel
  * rows exactly once — when the watermark proves its match set is
  * complete (v_ts + 30 min + 2 h has passed, so every candidate click
  * AND every candidate purchase for those clicks must have arrived).
  *
  * State per user is evicted at the same horizon — the analog of the
  * reference's 24 h state TTL (funnel_jobs.sql:15, W4): state size is
  * bounded by (per-user event rate × horizon), independent of stream
  * length. At 1000 executors the stream is hash-partitioned by user_id,
  * so state and compute shard horizontally; a skewed user bounds only
  * its own buffer (rate × 2.5 h), never a cross-user product.
  *
  * Output rows match the batch chained-LEFT-join twin row for row
  * (every view × matching click × matching purchase combination,
  * NULL-preserving) — StreamingSpec asserts exact equality.
  */
object FunnelState {

  case class FunnelEvent(user_id: Long, event_type: String, event_id: Long, ts: Timestamp)

  case class FunnelRow(
      user_id: Long,
      view_id: Long,
      click_id: Option[Long],
      purchase_id: Option[Long],
      v_ts: Timestamp,
      c_ts: Option[Timestamp],
      p_ts: Option[Timestamp])

  /** Buffered (event_id, epoch-ms) pairs per stage. */
  case class Buf(
      views: Seq[(Long, Long)],
      clicks: Seq[(Long, Long)],
      purchases: Seq[(Long, Long)])

  private[streaming] val ClickWindowMs = 30L * 60 * 1000
  private[streaming] val PurchaseWindowMs = 2L * 3600 * 1000

  /** A view's funnel output is final once this horizon passes. */
  private[streaming] val HorizonMs = ClickWindowMs + PurchaseWindowMs

  /** Stage lists prepared for range matching: ts-ascending and indexed,
    * so every per-view match is two binary searches plus the matched
    * range — never a scan of the whole buffer. This is the streamed
    * analog of the batch side's bucket-striped semi-join fix: a hot key
    * (one bot user holding 10% of all events) used to pay
    * finalized-views × buffered-clicks PER TRIGGER through the old
    * linear filters — per-key quadratic in the user's rate — and now
    * pays one near-linear re-sort per trigger (timsort over the
    * already-sorted kept state + the new tail) plus output-sized match
    * work. Constructing [[MatchBuf]] is the ONLY way into
    * [[emitFor]]/[[summarize]], so the sortedness precondition cannot
    * be bypassed.
    */
  private[streaming] case class MatchBuf(
      clicks: IndexedSeq[(Long, Long)],
      purchases: IndexedSeq[(Long, Long)])

  private[streaming] def matchReady(buf: Buf): MatchBuf =
    MatchBuf(buf.clicks.sortBy(_._2).toIndexedSeq,
      buf.purchases.sortBy(_._2).toIndexedSeq)

  /** First index in ts-ascending `xs` whose ts >= `bound`. */
  private def lowerBound(xs: IndexedSeq[(Long, Long)], bound: Long): Int = {
    var lo = 0
    var hi = xs.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (xs(mid)._2 < bound) lo = mid + 1 else hi = mid
    }
    lo
  }

  private[streaming] def emitFor(userId: Long, vid: Long, vts: Long, buf: MatchBuf): Seq[FunnelRow] = {
    val cs = buf.clicks
    val cLo = lowerBound(cs, vts)
    val cHi = lowerBound(cs, vts + ClickWindowMs + 1)
    if (cLo >= cHi)
      Seq(FunnelRow(userId, vid, None, None, new Timestamp(vts), None, None))
    else (cLo until cHi).flatMap { i =>
      val (cid, cts) = cs(i)
      val ps = buf.purchases
      val pLo = lowerBound(ps, cts)
      val pHi = lowerBound(ps, cts + PurchaseWindowMs + 1)
      if (pLo >= pHi)
        Seq(FunnelRow(userId, vid, Some(cid), None,
          new Timestamp(vts), Some(new Timestamp(cts)), None))
      else (pLo until pHi).map { j =>
        val (pid, pts) = ps(j)
        FunnelRow(userId, vid, Some(cid), Some(pid),
          new Timestamp(vts), Some(new Timestamp(cts)), Some(new Timestamp(pts)))
      }
    }
  }

  /** One row per finalized view — the aggregation-friendly shape: the
    * hourly rollup after it needs only counts of flags, never a
    * streaming-unsupported DISTINCT over the combination rows.
    */
  case class ViewSummary(
      user_id: Long,
      view_id: Long,
      v_ts: Timestamp,
      clicked: Boolean,
      purchased: Boolean,
      n_clicks: Long,
      n_purchases: Long)

  private[streaming] def summarize(userId: Long, vid: Long, vts: Long, buf: MatchBuf): ViewSummary = {
    // Direct range counting — NOT via [[emitFor]]: the combination rows
    // are matched-clicks × their purchases, which for a hot user is a
    // quadratic blow-up the summary never needed. A purchase qualifies
    // iff some matched click c satisfies c.ts <= p.ts <= c.ts + window,
    // checked with one binary search over the matched click range; ids
    // are de-duplicated exactly as the combination form's `.distinct`
    // did (a replay can buffer the same event twice).
    val cs = buf.clicks
    val cLo = lowerBound(cs, vts)
    val cHi = lowerBound(cs, vts + ClickWindowMs + 1)
    if (cLo >= cHi)
      ViewSummary(userId, vid, new Timestamp(vts), clicked = false, purchased = false, 0L, 0L)
    else {
      val nClicks = (cLo until cHi).map(cs(_)._1).distinct.size.toLong
      val ps = buf.purchases
      val cLoTs = cs(cLo)._2
      val cHiTs = cs(cHi - 1)._2
      val pLo = lowerBound(ps, cLoTs)
      val pHi = lowerBound(ps, cHiTs + PurchaseWindowMs + 1)
      val matchedPurchases = (pLo until pHi).iterator.map(ps(_)).filter { case (_, pts) =>
        val k = math.max(lowerBound(cs, pts - PurchaseWindowMs), cLo)
        k < cHi && cs(k)._2 <= pts
      }.map(_._1).toSeq.distinct
      ViewSummary(userId, vid, new Timestamp(vts), clicked = true,
        purchased = matchedPurchases.nonEmpty, nClicks, matchedPurchases.size.toLong)
    }
  }

  private def stepWith[T](emit: (Long, Long, Long, MatchBuf) => Seq[T])(
      userId: Long,
      events: Iterator[FunnelEvent],
      state: GroupState[Buf]): Iterator[T] = {
    val prev = state.getOption.getOrElse(Buf(Nil, Nil, Nil))
    val evs = events.toSeq
    def of(t: String) = evs.filter(_.event_type == t).map(e => (e.event_id, e.ts.getTime))
    val buf = Buf(
      prev.views ++ of("view"),
      prev.clicks ++ of("click"),
      prev.purchases ++ of("purchase"))
    val wm = state.getCurrentWatermarkMs()

    // finalize views whose whole match horizon is behind the watermark;
    // ONE match-ready sort per trigger serves every finalized view
    // (lazy: a trigger finalizing nothing skips the sort entirely)
    lazy val mb = matchReady(buf)
    val (done, pending) = buf.views.partition { case (_, vts) => vts + HorizonMs < wm }
    val out = done.sortBy(_._2).flatMap { case (vid, vts) => emit(userId, vid, vts, mb) }

    // evict clicks/purchases no pending or future view can ever match.
    // The keep horizon is the FULL funnel horizon, not the purchase
    // window: a click at C serves views as old as V = C, and that view
    // only finalizes at V + horizon = C + horizon (same bound for a
    // purchase at P via a click at C = P matching a view at V = P).
    // Evicting at C + purchase-window — 30 min earlier — silently
    // drops matches for views finalizing near the end of their horizon
    // when the watermark advances in steps smaller than the horizon.
    val keep = Buf(
      pending,
      buf.clicks.filter { case (_, cts) => cts + HorizonMs >= wm },
      buf.purchases.filter { case (_, pts) => pts + HorizonMs >= wm })
    if (keep.views.isEmpty && keep.clicks.isEmpty && keep.purchases.isEmpty) {
      state.remove()
    } else {
      state.update(keep)
      // wake this group when its earliest obligation matures (W4 TTL)
      val next = (keep.views.map(_._2 + HorizonMs) ++
        keep.clicks.map(_._2 + HorizonMs) ++
        keep.purchases.map(_._2 + HorizonMs)).min
      state.setTimeoutTimestamp(math.max(next, wm) + 1)
    }
    out.iterator
  }

  /** events: streaming DF with (event_id, ts, user_id, event_type, …). */
  def funnelChain(events: DataFrame): Dataset[FunnelRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", EventStreams.WatermarkDelay)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        stepWith(emitFor))(Encoders.product[Buf], Encoders.product[FunnelRow])
  }

  /** Per-view funnel summaries — same stateful operator, one row per
    * finalized view.
    */
  def funnelViewSummary(events: DataFrame): Dataset[ViewSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", EventStreams.WatermarkDelay)
      .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        stepWith((u, v, t, b) => Seq(summarize(u, v, t, b))))(
        Encoders.product[Buf], Encoders.product[ViewSummary])
  }

  /** Disorder tolerance of the rollup stream. Summaries land in rough
    * v_ts order (finalization follows the upstream watermark), so the
    * rollup's watermark only has to absorb cross-user finalization skew
    * -- about one upstream micro-batch of watermark advance -- never the
    * 2.5 h funnel horizon.
    */
  val RollupDelay = "30 minutes"

  /** Hourly funnel rollup -- the reference's post-join hourly grouping
    * (funnel_jobs.sql:66-99). `summaries` is a STREAMING DataFrame of
    * [[ViewSummary]] rows read back from the summary TABLE, not the
    * in-query output of [[funnelViewSummary]]: chaining a window
    * aggregation directly onto flatMapGroupsWithState deadlocks -- the
    * global watermark is the min over all watermark nodes, and a
    * mid-query watermark on v_ts sees no rows until the global watermark
    * advances, which therefore never does. The reference hit the same
    * wall and chains through storage (one Flink job per stage, Iceberg
    * tables between, funnel_jobs.sql vs aggregation_jobs.sql); so does
    * this engine: [[Sinks.funnelSummaryAppend]] lands summaries,
    * [[Sinks.funnelRollupFromTable]] tails them as a file stream with a
    * fresh per-query watermark. Windows finalize when that watermark
    * passes window end, so emitted rows are final and the sink is a
    * plain append.
    */
  def funnelHourly(summaries: DataFrame): DataFrame =
    summaries
      .withWatermark("v_ts", RollupDelay)
      .groupBy(window(col("v_ts"), "1 hour"))
      .agg(
        count(lit(1)).as("n_views"),
        count(when(col("clicked"), 1)).as("n_clicked_views"),
        count(when(col("purchased"), 1)).as("n_converted_views"),
        sum(col("n_clicks")).as("n_clicks"),
        sum(col("n_purchases")).as("n_purchases"))
      .select(col("window.start").as("window_start"),
        col("n_views"), col("n_clicked_views"), col("n_converted_views"),
        col("n_clicks"), col("n_purchases"),
        round(col("n_converted_views") / col("n_views"), 4).as("conversion_rate"))
}
