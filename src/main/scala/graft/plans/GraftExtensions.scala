package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

import graft.functions.StandardizeRaceId

/** Optimizer rule: `standardize_race_id` is idempotent (pinned by a
  * property test), so nested applications collapse to one. Exists as the
  * worked example of graft's Catalyst extension point (SURVEY §4.2) — the
  * pattern future rewrites (e.g. brute-force top-k cosine → LSH-pruned
  * join) plug into.
  */
object CollapseStandardizeRaceId extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case StandardizeRaceId(inner @ StandardizeRaceId(_)) => inner
    }
}

/** Session extensions: injected rules + SQL function registration.
  *
  * Use either programmatically —
  * `SparkSession.builder().withExtensions(new GraftExtensions)` — or via
  * `spark.sql.extensions=graft.plans.GraftExtensions`. Unlike the
  * temp-function fallback (`GraftSession.register`), injected functions
  * are part of the session's catalog from birth — every new session on a
  * cluster configured with the extension resolves them in SQL text with
  * no per-session setup call.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => CollapseStandardizeRaceId)
    // whole-operator extension tier: plans the native AsOfJoin node
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    graft.functions.GraftFunctions.sqlFunctions.foreach(f => e.injectFunction((
      FunctionIdentifier(f.name), new ExpressionInfo(f.cls.getName, f.name), f.builder)))
  }
}
