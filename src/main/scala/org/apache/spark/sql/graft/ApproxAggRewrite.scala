// Spark namespace: pattern-matches catalyst aggregate internals.
package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Catalyst rewrite: exact → sketch-backed aggregates, behind a runtime
  * flag (SURVEY §4.3 "exact→approx switch for the 100 TB posture").
  *
  *   spark.conf.set("spark.graft.approx.aggregates", "true")
  *
  * rewrites, wherever they appear in an analyzed plan:
  *   - median(x)           → percentile_approx(x, 0.5, accuracy)
  *   - percentile(x, p)    → percentile_approx(x, p, accuracy)
  *   - count(DISTINCT x)   → approx_count_distinct(x)
  *
  * The exact forms need a full sort / full distinct shuffle per group; the
  * sketches are single-pass, mergeable, and bounded-memory — the only
  * shapes that survive 100 TB group-bys. Numeric rewrites are restricted
  * to Double children so the expression's dataType (and therefore the
  * resolved schema above it) is unchanged.
  *
  * Installed at session build time by [[GraftExtensions]]
  * (`injectOptimizerRule`), so it runs in the operator-optimization batch,
  * before Spark's `RewriteDistinctAggregates` expands a multi-distinct
  * aggregate.
  */
case class ApproxAggRewrite(session: SparkSession) extends Rule[LogicalPlan] {

  // Defensive parses: a malformed conf value must degrade to the default
  // (with a log line), not throw from inside the optimizer and fail every
  // query in the session.
  private def enabled: Boolean =
    session.conf.getOption("spark.graft.approx.aggregates").exists { v =>
      v.toBooleanOption.getOrElse {
        logWarning(s"ignoring malformed spark.graft.approx.aggregates='$v' (want true/false)")
        false
      }
    }
  private def accuracy: Int =
    session.conf.getOption("spark.graft.approx.aggregates.accuracy")
      .flatMap { v =>
        val parsed = v.toIntOption.filter(_ > 0)
        if (parsed.isEmpty)
          logWarning(s"ignoring malformed spark.graft.approx.aggregates.accuracy='$v' (want positive int)")
        parsed
      }
      .getOrElse(ApproximatePercentile.DEFAULT_PERCENTILE_ACCURACY)

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformAllExpressions {
      case ae @ AggregateExpression(m: Median, _, false, _, _)
          if m.child.dataType == DoubleType =>
        ae.copy(aggregateFunction = new ApproximatePercentile(
          m.child, Literal(0.5d), Literal(accuracy)))
      case ae @ AggregateExpression(p: Percentile, _, false, _, _)
          if p.child.dataType == DoubleType &&
            p.frequencyExpression == Literal(1L) =>
        // only the default frequency (weight 1 per row) — percentile_approx
        // has no frequency arg, so rewriting a weighted percentile would
        // silently drop the weights, a wrong answer rather than a sketch
        ae.copy(aggregateFunction = new ApproximatePercentile(
          p.child, p.percentageExpression, Literal(accuracy)))
      case ae @ AggregateExpression(c: Count, _, true, _, _) if c.children.size == 1 =>
        ae.copy(aggregateFunction = HyperLogLogPlusPlus(c.children.head),
                isDistinct = false)
    }
}
