package graft.materialize

import graft.tables.GraftTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate over a table's CHANGELOG — the
  * Delta-CDF / Iceberg-changelog consumer pattern, and the piece the
  * repair-protocol materializer ([[Materializer]]) deliberately doesn't
  * cover: where M4–M6 recompute affected WINDOWS from facts, this
  * consumer folds each commit's insert/delete rows (±1 on the count,
  * ±exact integer cents on the sum) into a keyed aggregate table. A
  * repair the producer change-tracked (`replace-cdc`) or a predicate
  * delete (`delete-pos`) costs the consumer O(changed rows), not a
  * window recompute.
  *
  * Maintained invariant: `target` == `SELECT groupCols, count(*),
  * sum(cents)[, min(cents), max(cents)] FROM source.readLogical()
  * GROUP BY groupCols` after every poll (the m10/m11 oracle rows check
  * exactly this against DuckDB). COUNT/SUM are self-maintainable under
  * deletes; MIN/MAX are not (textbook incremental-view-maintenance
  * limits: deleting the extremum needs the group's remaining values),
  * so `trackMinMax` uses the HYBRID: inserts fold extrema directly
  * (`least`/`greatest` — monotone under insert), and a poll re-aggregates
  * FROM SOURCE only the groups where a delete touched the current
  * extremum (deleted value ≤ stored min or ≥ stored max) — one
  * key-pruned semi-join scan for exactly the affected groups, never a
  * full-view recompute. Groups whose deletes land strictly inside the
  * (min, max) interval stay self-maintained.
  *
  * Exactly-once: the consumed source version rides the merge commit via
  * [[GraftTable.withSinkMark]] — data and resume point land atomically,
  * so a crashed poll replays and an already-applied poll no-ops. Money
  * is exact integer cents end to end; +/- folding is order-independent,
  * so partial aggregation and shuffle nondeterminism can't drift it.
  *
  * Scale shape (100 TB discipline): each poll reads exactly the files
  * the polled commits added (O(delta), never O(source table)), one
  * partial-agg shuffle of the delta onto the group keys, a broadcast
  * join of the (≤ touched-keys) delta against the target, and a
  * broadcast-anti-join keyed rewrite of the TARGET — which is
  * group-cardinality-sized, orders of magnitude smaller than the facts
  * (a time-keyed aggregate additionally passes RangePrune so only
  * touched windows rewrite). The min/max recompute leg adds one source
  * scan semi-joined to the affected keys ONLY on polls where a delete
  * hit an extremum — on a partitioned source the semi-join's partition
  * predicate prunes that scan too. A changelog GAP (expired commits)
  * refuses loudly — [[rebuild]] is the documented resync, a full
  * recompute + mark reset.
  */
final class CdcAggConsumer(
    spark: SparkSession,
    source: GraftTable,
    target: GraftTable,
    groupCols: Seq[String],
    valueCol: String,
    trackMinMax: Boolean = false) {

  require(target.defn.keys.nonEmpty && target.defn.keys.toSet == groupCols.toSet,
    s"target ${target.defn.name} must be keyed by the group columns")
  require(!trackMinMax ||
    Seq("min_cents", "max_cents").forall(target.defn.schema.fieldNames.contains),
    s"target ${target.defn.name}: trackMinMax needs min_cents/max_cents columns")

  private val sinkId = s"cdc:${source.defn.name}"

  /** Last source version folded into the target (-1 = never polled). */
  def consumedVersion: Long = target.lastCommittedBatch(sinkId)

  private def centsOf(c: org.apache.spark.sql.Column) =
    round(c * 100).cast("long")

  private def aggCols(base: org.apache.spark.sql.Column) = {
    val cents = centsOf(base)
    Seq(count(lit(1)).as("n"), sum(cents).as("cents")) ++
      (if (trackMinMax) Seq(min(cents).as("min_cents"), max(cents).as("max_cents"))
       else Nil)
  }

  /** Fold all source commits past the consumed mark into the target.
    * Returns the number of commits consumed (0 = already caught up).
    */
  def poll(): Int = {
    val from = math.max(consumedVersion, 0L).toInt
    val to = source.currentVersion
    if (to <= from) return 0
    // a changelog consumer can difference inserts and deletes; an
    // upsert's change rows lack the superseded values, so a keyed
    // source needs the producer to change-track (replace-cdc) instead.
    // Metadata-only check over the polled range's commit jsons — no
    // data read; a gap throws here, before any fold. The change rows
    // read the same parsed range.
    val range = source.commitsIn(from, to).fold(throw _, identity)
    val bad = range.filter(c => !Set("append", "replace-cdc", "delete-pos", "compact", "zorder",
      "evolve-schema", "evolve-partition").contains(c.op))
    require(bad.isEmpty,
      s"${source.defn.name}: commit(s) ${bad.map(c => s"v${c.version}='${c.op}'").mkString(", ")} " +
        "are not incrementally foldable — rebuild() or use the Materializer")
    val ch = source.readChanges(range, to)
    val isDel = col("_change_type") === "delete"
    val sign = when(isDel, lit(-1L)).otherwise(lit(1L))
    val cents = centsOf(col(valueCol))
    val minMaxDelta =
      if (!trackMinMax) Nil
      else Seq(
        min(when(!isDel, cents)).as("__ins_min"),
        max(when(!isDel, cents)).as("__ins_max"),
        min(when(isDel, cents)).as("__del_min"),
        max(when(isDel, cents)).as("__del_max"))
    val deltaAggs = Seq(
      sum(sign).as("__dn"),
      sum(sign * cents).as("__dcents")) ++ minMaxDelta
    // Persisted: the delta (group-cardinality-sized, bounded by the
    // poll's touched keys) feeds BOTH the stale-key side and the
    // replacement side of the keyed rewrite — without the persist each
    // side re-runs the changelog read + partial-agg shuffle from
    // scratch (guide §5: cache only what is reused AND expensive to
    // recompute; this is exactly that). The count doubles as
    // replaceKeys' knownKeyCount, so the rewrite skips its own
    // distinct+persist+count pass over a recomputed delta.
    val delta = ch.groupBy(groupCols.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
      .persist()
    try {
      val nKeys = delta.count()
      if (!trackMinMax) {
        val merged = delta
          .join(target.readLogical(), groupCols, "left_outer")
          .select(
            groupCols.map(col) ++ Seq(
              (coalesce(col("n"), lit(0L)) + col("__dn")).as("n"),
              (coalesce(col("cents"), lit(0L)) + col("__dcents")).as("cents")): _*)
          .filter(col("n") > 0) // a group folded to zero leaves the view
        target.withSinkMark(sinkId, to.toLong) {
          target.replaceKeys(
            staleKeys = delta.select(groupCols.map(col): _*),
            keyCols = groupCols,
            replacement = merged,
            knownKeyCount = Some(nKeys))
        }
      } else {
        // a delete at or past a stored extremum may have removed it — the
        // group's true new extremum needs the remaining values, so those
        // groups (and only those) re-aggregate from source. A group the
        // target has never seen whose poll window carries ONLY inserts
        // self-maintains (extrema come entirely from __ins_min/__ins_max);
        // but a new group whose window mixes inserts with a partial delete
        // (append then delete-pos consumed in one poll, n stays > 0) must
        // also recompute — its __ins_* still include the deleted values.
        // Persisted: read twice below (split + keys); the target re-read
        // per pass would otherwise stack on the (persisted) delta.
        val joined = delta.join(target.readLogical(), groupCols, "left_outer")
          .withColumn("__recompute",
            (col("__del_min").isNotNull || col("__del_max").isNotNull) &&
              (col("min_cents").isNull ||
               col("__del_min") <= col("min_cents") ||
               col("__del_max") >= col("max_cents")))
          .persist()
        try {
          val self = joined.filter(!col("__recompute"))
            .select(
              groupCols.map(col) ++ Seq(
                (coalesce(col("n"), lit(0L)) + col("__dn")).as("n"),
                (coalesce(col("cents"), lit(0L)) + col("__dcents")).as("cents"),
                least(col("min_cents"), col("__ins_min")).as("min_cents"),
                greatest(col("max_cents"), col("__ins_max")).as("max_cents")): _*)
            .filter(col("n") > 0)
          val recomputeKeys = joined.filter(col("__recompute"))
            .select(groupCols.map(col): _*)
          // key-pruned re-aggregation: one source scan semi-joined to the
          // affected groups (broadcast — the key set is a subset of this
          // poll's touched groups, bounded by the delta). Pinned to the
          // polled version so a commit landing mid-poll can't leak ahead
          // of the mark.
          val recomputed = source.readLogical(Some(to))
            .join(broadcast(recomputeKeys), groupCols, "left_semi")
            .groupBy(groupCols.map(col): _*)
            .agg(aggCols(col(valueCol)).head, aggCols(col(valueCol)).tail: _*)
          target.withSinkMark(sinkId, to.toLong) {
            target.replaceKeys(
              staleKeys = delta.select(groupCols.map(col): _*),
              keyCols = groupCols,
              replacement = self.unionByName(recomputed),
              knownKeyCount = Some(nKeys))
          }
        } finally joined.unpersist()
      }
    } finally delta.unpersist()
    to - from
  }

  /** Full resync — the documented recovery from a changelog gap or a
    * non-foldable source commit: recompute the aggregate from the
    * source's current logical state and reset the mark to its version.
    */
  def rebuild(): Unit = {
    val to = source.currentVersion
    // version-pinned: a commit landing mid-rebuild must not leak ahead
    // of the mark the rebuild records (v0 = never-committed source)
    val full = (if (to == 0) source.readLogical() else source.readLogical(Some(to)))
      .groupBy(groupCols.map(col): _*)
      .agg(aggCols(col(valueCol)).head, aggCols(col(valueCol)).tail: _*)
    target.withSinkMark(sinkId, to.toLong) {
      target.overwrite(full)
    }
  }
}
