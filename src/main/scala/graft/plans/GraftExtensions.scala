package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

import graft.functions.Functions

/** SparkSessionExtensions injector — the engine's permanent extension
  * wiring. Users enable it with
  * `spark.sql.extensions=graft.plans.GraftExtensions` and get every
  * parameter-free custom expression of [[graft.functions.Functions.table]]
  * in every session (SQL, DataFrame, thriftserver) without per-session
  * registration calls. Model-bound functions (`bpe_tokens`,
  * `centroid_topk`, …) need their model, so sessions bind those through
  * each object's `register(spark, model…)`.
  *
  * One optimizer rule is injected: [[DotProductRewrite]], which
  * replaces the interpreted `aggregate(zip_with(a, b, (x,y) -> x*y),
  * 0D, (acc,z) -> acc+z)` idiom with the codegen'd `dot64` (strict
  * NULL-contract variant) — the engine's own history (q121: 1.8s →
  * 0.6s for a narrow pass at sf0.1) is the measurement behind it. No
  * SparkStrategy is injected: SURVEY §4 concluded Catalyst's built-in
  * PLAN optimizations cover the reference's plan space — the rule
  * closes an expression-level performance trap, not a plan-shape gap.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => DotProductRewrite)
    Functions.inject(ext)
  }
}
