package graft.core

/**
 * Core data model of the engine (SURVEY.md §1.4).
 *
 * The raw input tier is the north-rule table of pre-tokenized training
 * sequences; semantic ancestor is the reference's data entry
 * `dict[item_id, start, freq, target]` (reference:
 * uni2ts/src/uni2ts/data/builder/simple.py:78-87) with `tokens` playing the
 * role of the per-series value array and token position playing the role of
 * the time axis.
 */
final case class RawSeq(
    doc_id: String,
    tokens: Array[Int],
    n_tok: Int,
    source: String)

/**
 * One rolled-up point of a retention tier. Ancestor: the per-group
 * (sample_id, variate_id) masked statistics of the reference's packed
 * scalers (uni2ts/src/uni2ts/module/packed_scaler.py:78-155), re-keyed by
 * (source, token-position bucket, tier window).
 *
 * `sum_tok`/`cnt_tok` are exact Longs so every tier is bit-exact under any
 * shuffle order; `avg_tok` is derived (sum/count) at read time — IEEE
 * division of two exact integers is deterministic (SURVEY.md §7.4).
 */
final case class TierRow(
    source: String,
    bucket: Int,
    tier: String,
    window_start: Int,
    min_tok: Int,
    max_tok: Int,
    sum_tok: Long,
    cnt_tok: Long,
    avg_tok: Double,
    sumsq_tok: Long, // exact to ~3.6e9 points/group; tier_stats_decl struct beyond
    var_tok: Option[Double]) // sample variance (correction=1), null if cnt=1

/** Retention tiers: window width on the token-position (seconds) axis. */
object Tier {
  val OneMinute = "1m"
  val FiveMinutes = "5m"
  val OneHour = "1h"
  val OneDay = "1d"

  /** Ordered ladder: each tier reaggregates from the previous one. */
  val ladder: Seq[(String, Int)] =
    Seq(OneMinute -> 60, FiveMinutes -> 300, OneHour -> 3600, OneDay -> 86400)

  val widths: Map[String, Int] = ladder.toMap

  /** Position-bucket width: spatial key orthogonal to the tier window
   * (ancestor: patch sizes 8..128, uni2ts transform/patch.py:77-159). */
  val BucketWidth = 64
}

/** One lineage row per input partition per stage (north-rule lineage). */
final case class LineageRow(
    stage: String,
    snapshot_id: Long,
    partition_id: Int,
    rows_out: Long,
    wall_ms: Long)

/** One metrics row per stage (north-rule stats table). */
final case class MetricsRow(
    stage: String,
    snapshot_id: Long,
    metric: String,
    value: Double)
