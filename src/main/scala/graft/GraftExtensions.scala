package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.SparkSessionExtensions

/** The engine's `spark.sql.extensions` entry point:
 *
 * {{{
 *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
 * }}}
 *
 * injects every graft Catalyst function (codecs, preconditioning, simhash,
 * vector and array kernels, the fused tier_stats_decl aggregate) into
 * each new SparkSession via the public
 * `SparkSessionExtensions.injectFunction` API — SQL and `call_function`
 * resolve them with no imperative registration (SURVEY.md §2.11). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.injectInto(ext)
}
