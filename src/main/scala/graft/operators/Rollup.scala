package graft.operators

import graft.core.Tier
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Continuous-aggregate rollup: min/max/sum/count(/avg) per retention tier,
 * keyed by (source, token-position bucket, tier window).
 *
 * Semantic ancestor: the reference's grouped masked reductions per
 * (sample_id, variate_id) (uni2ts/src/uni2ts/module/packed_scaler.py:78-155)
 * — there implemented as O(n^2) pairwise-equality masks for the GPU; here a
 * plain `groupBy().agg()`, which Spark executes as partial (map-side)
 * aggregation + one shuffle on the group keys + final aggregation. At 100 TB
 * the partial agg collapses each input partition to at most
 * |sources|×|buckets|×|windows-in-partition| rows before the shuffle, so
 * shuffle volume is bounded by group cardinality, not input size.
 *
 * The tier ladder (5m from 1m, 1h from 5m, 1d from 1h) is a reaggregation
 * cascade: sum/count/min/max compose exactly; avg is re-derived. This is the
 * standard continuous-aggregate construction (SURVEY.md §2.4) and means each
 * coarser tier reads the (much smaller) previous tier, never the raw data.
 *
 * All aggregates are exact integer arithmetic (tokens are int32, sums Long)
 * so every tier is bit-exact under any shuffle order / parallelism level —
 * the discipline behind the north rule's "bit-exact tier match"
 * (SURVEY.md §7.4 hard part 1).
 */
object Rollup {

  /** Sample variance derived at read time from the exact integer state
   * (sum, count, sum-of-squares) — the dispersion statistic of the
   * reference's PackedStdScaler (packed_scaler.py:78-122, correction=1).
   * One fixed double expression over exact longs, so Spark and the SQL
   * oracle agree bitwise; null when the group has a single point. */
  private[graft] val varExpr =
    "CASE WHEN cnt_tok > 1 THEN " +
      "(CAST(sumsq_tok AS DOUBLE) - CAST(sum_tok AS DOUBLE) * CAST(sum_tok AS DOUBLE) " +
      "/ CAST(cnt_tok AS DOUBLE)) / CAST(cnt_tok - 1 AS DOUBLE) " +
      "ELSE NULL END"

  /** Tier windows on the position axis: `window_start = (pos div W) * W`.
   *
   * sumsq_tok is an exact Long: tok^2 < 2.53e9, so the column is exact up
   * to ~3.6e9 points per (source, bucket, window) group. Beyond that (the
   * extreme 10^12-doc tail) use
   * [[graft.functions.expressions.TierStatsDecl]] (`tier_stats_decl`) —
   * 128-bit-exact sum of squares at measured parity with the built-in
   * aggregates (codegen DeclarativeAggregate) — directly, without the
   * LONG cast below. */
  def rollupFromPoints(points: DataFrame, tier: String): DataFrame = {
    val w = Tier.widths(tier)
    // ONE fused aggregate buffer (tier_stats_decl, codegen
    // DeclarativeAggregate) instead of five built-in buffers: identical
    // values, but roughly half the per-point hash-map traffic — measured
    // at 1.024B points this is the difference between 0.65-0.82 and
    // 0.91-1.02 N->4N wall efficiency (BENCH.md round-7: the five-buffer
    // shape saturates shared memory bandwidth at 16 threads; cpu-per-point
    // ratios 1.15-1.37 vs 0.94-1.06 fused). The 128-bit sumsq is cast
    // back to LONG for schema stability — past ~3.6e9 points/group the
    // ANSI cast fails LOUDLY where the old five-buffer sum wrapped
    // silently; keep the struct form (tier_stats_decl direct) when groups
    // can exceed that.
    graft.functions.GraftFunctions.register(points.sparkSession)
    points
      .groupBy(
        col("source"),
        expr(s"CAST(pos DIV ${Tier.BucketWidth} AS INT)").as("bucket"),
        expr(s"CAST(pos - pos % $w AS INT)").as("window_start"))
      .agg(call_function("tier_stats_decl", col("tok")).as("_st"))
      .select(
        col("source"),
        col("bucket"),
        col("window_start"),
        col("_st.min_tok").as("min_tok"),
        col("_st.max_tok").as("max_tok"),
        col("_st.sum_tok").as("sum_tok"),
        col("_st.cnt_tok").as("cnt_tok"),
        col("_st.sumsq_tok").cast("long").as("sumsq_tok"))
      .select(
        col("source"),
        col("bucket"),
        lit(tier).as("tier"),
        col("window_start"),
        col("min_tok"),
        col("max_tok"),
        col("sum_tok"),
        col("cnt_tok"),
        (col("sum_tok").cast("double") / col("cnt_tok").cast("double")).as("avg_tok"),
        col("sumsq_tok"),
        expr(varExpr).as("var_tok"))
  }

  /** Reaggregate a finer tier into a coarser one (sum/count/min/max compose;
   * avg derived). Input and output share the (source, bucket) key, so with
   * tier tables bucketed/partitioned on (source, bucket) this is a
   * co-partitioned aggregation. */
  def reaggregate(finer: DataFrame, toTier: String): DataFrame = {
    val w = Tier.widths(toTier)
    finer
      .groupBy(
        col("source"),
        col("bucket"),
        expr(s"CAST(window_start - window_start % $w AS INT)").as("window_start"))
      .agg(
        min(col("min_tok")).as("min_tok"),
        max(col("max_tok")).as("max_tok"),
        sum(col("sum_tok")).as("sum_tok"),
        sum(col("cnt_tok")).as("cnt_tok"),
        sum(col("sumsq_tok")).as("sumsq_tok"))
      .select(
        col("source"),
        col("bucket"),
        lit(toTier).as("tier"),
        col("window_start"),
        col("min_tok"),
        col("max_tok"),
        col("sum_tok"),
        col("cnt_tok"),
        (col("sum_tok").cast("double") / col("cnt_tok").cast("double")).as("avg_tok"),
        col("sumsq_tok"),
        expr(varExpr).as("var_tok"))
  }

  /** Incremental late-data reconciliation: fold a (small) delta of
   * late-arriving points into an existing tier table by recomputing ONLY
   * the windows the delta touches. At 100 TB a full re-rollup for a
   * sub-percent late delta is exactly the job this avoids: the existing
   * tier is split with BROADCAST semi/anti joins on the delta's key set
   * (row-local over the big table — no shuffle of the tier), and only
   * the affected slice — bounded by the delta's window count, never the
   * tier size — is re-merged through one small groupBy.
   *
   * The merge is exact because every persisted aggregate is a
   * sum/min/max/count over disjoint point sets (the tier invariant);
   * avg/var re-derive from the merged integer state. Result is bit-equal
   * to `rollupFromPoints(onTime UNION late)` under any split — the
   * RollupSpec property and the q_rollup_late full-recompute oracle.
   * Windows that exist only in the delta (entirely-late windows) surface
   * as new rows; `tierTable` must be a single-tier table of the same
   * `tier` (its rows pass through or re-merge keyed on
   * (source, bucket, window_start) only). */
  def mergeLate(
      tierTable: DataFrame,
      latePoints: DataFrame,
      tier: String,
      maxAffectedWindows: Long = DefaultMaxAffectedWindows,
      maxBroadcastWindows: Long = DefaultMaxBroadcastWindows): DataFrame = {
    // convenience path: trade the delta cache for leak-freedom — the
    // guard count already ran, unpersisting here just means the (small)
    // delta aggregate recomputes downstream. CONTRACT: `latePoints` must
    // be DETERMINISTIC (a table read or pure generator — every caller in
    // this engine): after the release the affected-key split and the
    // merge union each re-derive the delta, and a nondeterministic input
    // would let them disagree (dropped or duplicated key rows). The
    // contract is ENFORCED, not just documented: a plan carrying any
    // nondeterministic expression is rejected up front with a pointer to
    // mergeLateReleasable, whose cache pins ONE materialization until the
    // caller releases it (the streaming sink's path).
    val nonDet = latePoints.queryExecution.analyzed.collectFirst {
      case p if p.expressions.exists(_.exists(e => !e.deterministic)) => p.nodeName
    }
    require(
      nonDet.isEmpty,
      s"mergeLate: latePoints plan contains a nondeterministic expression " +
        s"(in ${nonDet.getOrElse("?")}); after the convenience release the " +
        "delta is re-derived and could disagree with itself. Use " +
        "mergeLateReleasable and call the release hook after materializing.")
    val (out, release) =
      mergeLateReleasable(
        tierTable, latePoints, tier, maxAffectedWindows, maxBroadcastWindows)
    release()
    out
  }

  /** Broadcast ceiling for the affected-key split, derived from a BYTE
   * budget, not row count alone: a key row (source string, bucket int,
   * window_start int) is ~40-60 B inside a built broadcast hash
   * relation, so 1M keys is a ~40-60 MB relation on the driver and
   * every executor — the top of the range where shipping the key set
   * still beats shuffling the tier. Past it, [[mergeLateReleasable]]
   * switches to the shuffle re-merge path rather than building a
   * multi-hundred-MB broadcast. */
  val DefaultMaxBroadcastWindows: Long = 1000000L

  /** Absolute loud ceiling on a reconciliation delta: even the shuffle
   * path re-merges the tier row-by-row against the delta, and a delta
   * touching a large fraction of all windows is a bulk backfill — the
   * economics flip to a full re-rollup from points (one shuffle of the
   * points REPLACES the tier instead of reconciling it). */
  val DefaultMaxAffectedWindows: Long = 100000000L

  /** Re-merge tier-state rows (possibly several per key) into one exact
   * row per (source, bucket, window_start) with the derived columns
   * recomputed — the single merge kernel behind both mergeLate paths. */
  private def remergeState(rows: DataFrame, tier: String): DataFrame =
    rows
      .groupBy(col("source"), col("bucket"), col("window_start"))
      .agg(
        min(col("min_tok")).as("min_tok"),
        max(col("max_tok")).as("max_tok"),
        sum(col("sum_tok")).as("sum_tok"),
        sum(col("cnt_tok")).as("cnt_tok"),
        sum(col("sumsq_tok")).as("sumsq_tok"))
      .select(
        col("source"),
        col("bucket"),
        lit(tier).as("tier"),
        col("window_start"),
        col("min_tok"),
        col("max_tok"),
        col("sum_tok"),
        col("cnt_tok"),
        (col("sum_tok").cast("double") / col("cnt_tok").cast("double")).as("avg_tok"),
        col("sumsq_tok"),
        expr(varExpr).as("var_tok"))

  /** [[mergeLate]] plus a release hook: the delta aggregate is persisted
   * (it feeds the affected-key split AND the merge union — one
   * computation instead of three), and long-lived callers that merge
   * repeatedly (the streaming sink) must call the hook once the result
   * is materialized, or cached delta blocks accumulate for the session
   * lifetime (the lshChain release discipline). One-shot callers in a
   * short session may ignore it.
   *
   * Three cost regimes, picked by the delta's window count (the count
   * rides the same job that warms the persisted delta):
   *  - <= `maxBroadcastWindows`: BROADCAST split — the affected-key set
   *    ships to every executor and the big tier is split row-locally
   *    (anti/semi, zero tier shuffle); only the affected slice
   *    re-merges. The ceiling is a byte budget (~40-60 MB built
   *    relation at the 1M default), because the key set lands on the
   *    driver and every executor.
   *  - <= `maxAffectedWindows`: SHUFFLE re-merge — the whole tier
   *    unions with the delta and re-aggregates in ONE hash shuffle on
   *    the tier key (cheaper than two shuffle joins; untouched windows
   *    pass through the merge as single-row groups, bit-equal since
   *    avg/var re-derive from the same exact integer state). Costs one
   *    tier shuffle but never touches the (window-width-times-larger)
   *    raw points.
   *  - beyond: loud failure — that delta is a bulk backfill; run a
   *    full re-rollup. Fails with a diagnosis, not a driver OOM. */
  def mergeLateReleasable(
      tierTable: DataFrame,
      latePoints: DataFrame,
      tier: String,
      maxAffectedWindows: Long = DefaultMaxAffectedWindows,
      maxBroadcastWindows: Long = DefaultMaxBroadcastWindows): (DataFrame, () => Unit) = {
    val delta = rollupFromPoints(latePoints, tier)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the guard must not leak the just-persisted delta when it fires
    // (a streaming retry loop would pin one materialized cache per
    // attempt): unpersist before propagating
    val nAffected =
      try {
        val n = delta.count()
        require(
          n <= maxAffectedWindows,
          s"mergeLate: delta touches $n windows (> $maxAffectedWindows). " +
            "Incremental reconciliation is for late slices; a delta this " +
            "size is a bulk backfill — run a full re-rollup, or raise " +
            "maxAffectedWindows.")
        n
      } catch {
        case e: Throwable => delta.unpersist(); throw e
      }
    val keys = Seq("source", "bucket", "window_start")
    val stateCols =
      Seq("source", "bucket", "window_start", "min_tok", "max_tok",
        "sum_tok", "cnt_tok", "sumsq_tok").map(col)
    val out =
      if (nAffected <= maxBroadcastWindows) {
        val affectedKeys = delta.select(keys.map(col): _*)
        val untouched =
          tierTable.join(broadcast(affectedKeys), keys, "left_anti")
        val affected =
          tierTable.join(broadcast(affectedKeys), keys, "left_semi")
        val merged = remergeState(affected.unionByName(delta), tier)
        // the equi-join fronts its keys — restore the tier table's own
        // column order so merge output unions cleanly with unmerged tables
        untouched.unionByName(merged).select(tierTable.columns.map(col): _*)
      } else {
        remergeState(
          tierTable.select(stateCols: _*).unionByName(delta.select(stateCols: _*)),
          tier)
          .select(tierTable.columns.map(col): _*)
      }
    (out, () => { delta.unpersist(); () })
  }

  /** Full ladder from the point view: returns tier name -> tier DataFrame.
   * Only the 1m tier touches the raw points; every coarser tier cascades. */
  def ladder(points: DataFrame): Map[String, DataFrame] = {
    val t1m = rollupFromPoints(points, Tier.OneMinute)
    val t5m = reaggregate(t1m, Tier.FiveMinutes)
    val t1h = reaggregate(t5m, Tier.OneHour)
    val t1d = reaggregate(t1h, Tier.OneDay)
    Map(
      Tier.OneMinute -> t1m,
      Tier.FiveMinutes -> t5m,
      Tier.OneHour -> t1h,
      Tier.OneDay -> t1d)
  }
}
