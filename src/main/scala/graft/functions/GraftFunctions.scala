package graft.functions

import graft.functions.expressions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registration of the engine's custom Catalyst expressions into a session's
 * function registry, so they are callable from SQL and via
 * `functions.call_function` (SURVEY.md §2.11). Idempotent. */
object GraftFunctions {

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "gorilla_encode" -> (args => GorillaEncode(args.head)),
    "gorilla_decode" -> (args => GorillaDecode(args.head)),
    "dod_encode" -> (args => DodEncode(args.head)),
    "dod_decode" -> (args => DodDecode(args.head)),
    "chimp_encode" -> (args => ChimpEncode(args.head)),
    "chimp_decode" -> (args => ChimpDecode(args.head)),
    "simhash64" -> (args => SimHash64(args.head)),
    // fused single-buffer tier aggregate (codegen DeclarativeAggregate,
    // 128-bit-exact sum of squares); the analyzer wraps the bare
    // AggregateFunction into an AggregateExpression. `tier_stats` is the
    // same aggregate under its original name, which Bench still calls.
    "tier_stats_decl" -> (args => TierStatsDecl(args.head)),
    "tier_stats" -> (args => TierStatsDecl(args.head)),
    // bounded-state k-minimum-values sketch (TypedImperativeAggregate)
    "kmv_kmin" -> (args => KmvKMin(args.head, foldInt(args(1)))),
    "dot_q" -> (args => DotQ(args.head, args(1))),
    "lsh_sig" -> (args => LshSig(args.head, foldInt(args(1)))),
    "lsh_sig_affine" -> (args => LshSigAffine(args.head, foldInt(args(1)))),
    // array kernels (typed JVM loops replacing interpreted HOF lambdas —
    // see ArrayExpressions.scala)
    // dedup-chain kernels (shingle/signature/band stages as codegen'd
    // expressions — see DedupExpressions.scala)
    "shingle_fnv" -> (args => ShingleFnv(args.head, foldInt(args(1)))),
    "ngram_rep_stats" -> (args => NgramRepStats(args.head, foldInt(args(1)))),
    "simhash_affine" -> (args => SimHashAffine(args.head, foldInt(args(1)))),
    "minhash_affine" -> (args =>
      MinHashAffine(args.head, foldInt(args(1)), foldInt(args(2)))),
    "minhash_sig" -> (args => MinHashSig(args.head, foldInt(args(1)))),
    "lsh_bands" -> (args => LshBands(args.head, foldInt(args(1)))),
    "arr_sorted_inter_size" -> (args => SortedInterSize(args.head, args(1))),
    "arr_pairs" -> (args => ArrPairs(args.head)),
    "arr_sum" -> (args => ArrSum(args.head)),
    "arr_sum_mod" -> (args => ArrSumMod(args.head, foldLong(args(1)))),
    "arr_sum_q" -> (args => ArrSumQ(args.head, foldLong(args(1)))),
    "bin_frame_sample" -> (args =>
      BinFrameSample(args.head, foldInt(args(1)), foldInt(args(2)))),
    "arr_null_count" -> (args => ArrNullCount(args.head)),
    "arr_first_data_pos" -> (args => ArrFirstDataPos(args.head)),
    "arr_pos_weighted_sum" -> (args => ArrPosWeightedSum(args.head, foldLong(args(1)))),
    "arr_pos_weighted_sum_q" -> (args =>
      ArrPosWeightedSumQ(args.head, foldLong(args(1)), foldLong(args(2)))),
    "arr_abs_sum_q" -> (args => ArrAbsSumQ(args.head, foldLong(args(1)))),
    "arr_sq_err_q_sum" -> (args => ArrErrQSum(args.head, args(1), foldLong(args(2)))),
    "arr_seasonal_abs_sum" -> (args => ArrSeasonalAbsSum(args.head, foldInt(args(1)))),
    "arr_interval_penalty_sum" -> (args =>
      ArrIntervalPenaltySum(args.head, args(1), args(2), foldLong(args(3)))),
    // eval_window_stats(tokens, m, ctx, hor, stride, scale): fused window
    // enumeration + packed reductions, one compact struct per window
    "window_slices" -> (args =>
      WindowSlices(args.head, foldInt(args(1)), foldInt(args(2)), foldInt(args(3)))),
    "window_slices_end" -> (args =>
      WindowSlicesEnd(
        args.head,
        foldInt(args(1)),
        foldInt(args(2)),
        foldInt(args(3)),
        foldInt(args(4)),
        foldInt(args(5)))),
    // lttb_select(pts, threshold): per-series LTTB selection kernel
    "lttb_select" -> (args => LttbSelect(args.head, foldInt(args(1)))),
    // eval_pinball_stats(tokens, ctx, hor, stride): fused per-window
    // pinball / order-statistic reductions (q_eval_pinball/q_eval_extra)
    "eval_pinball_stats" -> (args =>
      EvalPinballStats(args.head, foldInt(args(1)), foldInt(args(2)), foldInt(args(3)))),
    "eval_window_stats" -> (args =>
      EvalWindowStats(
        args.head,
        args(1),
        foldInt(args(2)),
        foldInt(args(3)),
        foldInt(args(4)),
        foldLong(args(5)))),
    "affine_mod_seq" -> (args =>
      AffineModSeq(args.head, args(1), foldLong(args(2)), foldLong(args(3)), foldLong(args(4)))),
    "arr_chunk" -> (args => ArrChunk(args.head, foldInt(args(1)))),
    "arr_zscore_outliers" -> (args =>
      ArrZscoreOutliers(args.head, foldInt(args(1)), foldDouble(args(2)))),
    "arr_ewma_half" -> (args => ArrEwmaHalf(args.head)),
    "arr_every_kth" -> (args => ArrEveryKth(args.head, foldInt(args(1)))),
    "arr_blur4_every_kth" -> (args => ArrBlur4EveryKth(args.head, foldInt(args(1)))),
    "arr_repeat_each" -> (args => ArrRepeatEach(args.head, foldInt(args(1)))),
    // precond_forward(arr, degree, 'chebyshev'), precond_reverse(...)
    "precond_forward" -> (args =>
      PrecondForward(args.head, foldInt(args(1)), foldStr(args(2)))),
    "precond_reverse" -> (args =>
      PrecondReverse(args.head, foldInt(args(1)), foldStr(args(2)))),
    // precond_reverse_ctx(window, degree, 'chebyshev', context): decode a
    // window given the original-scale history preceding it
    "precond_reverse_ctx" -> (args =>
      PrecondReverseCtx(args.head, args(3), foldInt(args(1)), foldStr(args(2))))
  )

  private def foldInt(e: Expression): Int =
    e.eval(null).toString.toInt
  private def foldLong(e: Expression): Long =
    e.eval(null).toString.toLong
  private def foldStr(e: Expression): String =
    e.eval(null).toString
  private def foldDouble(e: Expression): Double =
    e.eval(null).toString.toDouble

  def register(spark: SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      val ident = FunctionIdentifier(name)
      if (!registry.functionExists(ident)) {
        registry.registerFunction(
          ident,
          new ExpressionInfo("graft.functions.expressions", name),
          builder)
      }
    }
  }

  /** Public extension-point registration (SparkSessionExtensions
   * .injectFunction): every new session built with
   * `spark.sql.extensions=graft.GraftExtensions` gets the functions
   * without any imperative register() call — the supported deployment
   * path; [[register]] remains as the programmatic fallback. */
  def injectInto(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    builders.foreach { case (name, builder) =>
      ext.injectFunction(
        (
          FunctionIdentifier(name),
          new ExpressionInfo("graft.functions.expressions", name),
          builder))
    }
}
