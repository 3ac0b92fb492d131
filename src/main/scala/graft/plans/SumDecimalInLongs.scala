package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.{Alias, And, EvalMode, Expression, IsNotNull, KnownNotNull, NamedExpression, UnscaledValue}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.CurrentOrigin
import org.apache.spark.sql.catalyst.trees.TreePattern.AGGREGATE
import org.apache.spark.sql.types.{Decimal, DecimalType}

import graft.core.Int128DecimalSum

/** Optimizer rule: a grouped or global `sum` of a `DECIMAL(p, s)` with
  * `p <= 18 < p + 10` sums the unscaled longs into [[Int128DecimalSum]]'s
  * two-long accumulator instead of Spark's `DECIMAL(p + 10, s)` buffer.
  *
  * The 25 `sum(cast(... AS DECIMAL(18,2)))` money sums (the star schema's
  * amount measure) and the `DECIMAL(18,6)`/`DECIMAL(18,9)` term sums are in
  * scope. Spark's `DecimalAggregates` already sums `p + 10 <= 18` in one
  * long, so those are left to it; window sums and `DISTINCT` sums are left
  * as they are. Result type, nulls and overflow follow `Sum` in `LEGACY`
  * and `ANSI` evaluation (`Int128DecimalSum`).
  *
  * Listed in `GraftFunctions.optimizerRules`; excluded by name through
  * `spark.sql.optimizer.excludedRules`.
  */
object SumDecimalInLongs extends Rule[LogicalPlan] {

  private val modes = Set(EvalMode.LEGACY, EvalMode.ANSI)

  /** The `(p, s)` of a `DECIMAL` that `DecimalAggregates` leaves to `Sum`. */
  private object WideSum {
    def unapply(e: Expression): Option[(Int, Int)] = e.dataType match {
      case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS &&
          d.precision + 10 > Decimal.MAX_LONG_DIGITS =>
        Some((d.precision, d.scale))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformWithPruning(_.containsPattern(AGGREGATE)) {
      case a: Aggregate => rewrite(a)
    }

  /** The unscaled longs are computed once per row, in a projection under
    * the aggregate. A codegen'd hash aggregate splits each function's update
    * into its own method and evaluates a non-attribute input there once per
    * read, and the update and merge read their input several times. The
    * aggregate's `FILTER` drops the rows whose input is null, which `Sum`
    * skips too, so the kernel sees a non-null input; reading the projected
    * column twice (filter and kernel) also keeps `CollapseProject` from
    * inlining the projection back into the aggregate.
    */
  private def rewrite(a: Aggregate): Aggregate = {
    val unscaled = mutable.LinkedHashMap.empty[Expression, Alias]
    val aggs = a.aggregateExpressions.map(_.transform {
      case ae @ AggregateExpression(s @ Sum(child @ WideSum(p, sc), ctx), _,
          false, filter, _) if modes(ctx.evalMode) =>
        val u = unscaled.getOrElseUpdate(child.canonicalized,
          Alias(UnscaledValue(child), "unscaled")()).toAttribute
        val kernel = CurrentOrigin.withOrigin(s.origin) {
          Int128DecimalSum(KnownNotNull(u), DecimalType(p + 10, sc),
            nullOnOverflow = ctx.evalMode != EvalMode.ANSI)
        }
        val present = IsNotNull(u)
        ae.copy(aggregateFunction = kernel,
          filter = Some(filter.fold[Expression](present)(And(_, present))))
    }.asInstanceOf[NamedExpression])
    if (unscaled.isEmpty) a
    else a.copy(aggregateExpressions = aggs,
      child = Project(a.child.output ++ unscaled.values, a.child))
  }
}
