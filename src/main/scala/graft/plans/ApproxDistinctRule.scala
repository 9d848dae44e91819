package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, HyperLogLogPlusPlus}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Showcase optimizer rule (SURVEY §4 "optional Rule", §7.5): rewrite
  * exact `count(DISTINCT x)` into `approx_count_distinct(x)` (HLL++) when
  * the session opts in via `spark.graft.approxDistinct.enabled`.
  *
  * Why: exact distinct aggregation over a high-cardinality key at 100 TB
  * forces an Expand + full shuffle of every distinct value; HLL++ keeps the
  * aggregation a fixed-width sketch merge (map-side partials, tiny
  * exchange). The rewrite is an *opt-in semantic relaxation* — it changes
  * results within the configured relative error, which is why it is off by
  * default and gated by a session flag rather than applied silently.
  *
  * Registered through `SparkSessionExtensions.injectOptimizerRule` — the
  * idiomatic extension point (no fork of the session builder required):
  * `GraftExtensions.install(spark)`.
  */
object ApproxDistinctRule extends Rule[LogicalPlan] {

  final val EnabledKey = "spark.graft.approxDistinct.enabled"
  final val RsdKey = "spark.graft.approxDistinct.rsd"

  private def enabled: Boolean =
    conf.getConfString(EnabledKey, "false").toBoolean
  private def rsd: Double =
    conf.getConfString(RsdKey, "0.05").toDouble

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformUp {
      case agg @ Aggregate(_, _, _, _) =>
        agg.transformExpressions {
          case ae @ AggregateExpression(Count(children), _, isDistinct, _, _)
              if isDistinct && children.length == 1 =>
            AggregateExpression(
              HyperLogLogPlusPlus(children.head, rsd), Complete,
              isDistinct = false, filter = ae.filter)
        }
    }
  }
}

/** Session-extension installer: `withExtensions(new GraftExtensions)` at
  * build time, or `GraftExtensions.install(spark)` on a live session (used
  * by the specs; injection on a live session applies via the experimental
  * methods hook). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => ApproxDistinctRule)
    e.injectOptimizerRule(_ => CartesianGuard)
    e.injectPlannerStrategy(_ => TopKStrategy)
  }
}

object GraftExtensions {
  /** The one live-session registration. Idempotent; the check-then-set on
    * the session-global experimental lists runs under one lock, so
    * concurrent first callers register each extension once. The two rules
    * stay inert until their conf keys turn them on. */
  def install(spark: SparkSession): Unit = synchronized {
    val existing = spark.experimental.extraOptimizations
    val wanted = Seq(ApproxDistinctRule, CartesianGuard)
    spark.experimental.extraOptimizations =
      existing ++ wanted.filterNot(existing.contains)
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        TopKStrategy +: spark.experimental.extraStrategies
  }
}
