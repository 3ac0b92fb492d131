package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

import graft.core.DotFold

/** Optimizer rule: rewrite the hand-written higher-order-function dot
  * product
  *
  * {{{ aggregate(zip_with(a, b, (x, y) => x * y), 0.0d, (acc, x) => acc + x) }}}
  *
  * into the codegen'd native `graft_dot(a, b)` kernel. Spark's HOFs are
  * CodegenFallback — interpreted lambda dispatch per array element — so a
  * user who writes the idiomatic declarative form silently pays ~3× on the
  * embedding hot path; this rule gives them the native loop transparently.
  * Bit-compatible by construction (float products, double left-to-right
  * accumulation, null/length-mismatch → null — VectorExprSpec pins it), so
  * the rewrite is always safe when the pattern matches EXACTLY:
  * float-array inputs, multiply of precisely the two zip variables, zero
  * literal 0.0d, merge = acc + element (either order; both ops are
  * IEEE-commutative), identity finish.
  *
  * Listed in `GraftFunctions.optimizerRules`, which both
  * [[graft.GraftExtensions]] and `GraftFunctions.ensureRegistered` install.
  */
object FoldVectorHofs extends Rule[LogicalPlan] {

  private def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def sameVar(a: Expression, b: NamedLambdaVariable): Boolean =
    a match {
      case v: NamedLambdaVariable => v.exprId == b.exprId
      case _ => false
    }

  private def isMulOfVars(e: Expression, x: NamedLambdaVariable,
      y: NamedLambdaVariable): Boolean = e match {
    case Multiply(a, b, _) =>
      (sameVar(a, x) && sameVar(b, y)) || (sameVar(a, y) && sameVar(b, x))
    case _ => false
  }

  private def stripCastToDouble(e: Expression): Expression = e match {
    case c: Cast if c.dataType == DoubleType => c.child
    case other => other
  }

  private def isAddOfVars(e: Expression, acc: NamedLambdaVariable,
      el: NamedLambdaVariable): Boolean = e match {
    case Add(a, b, _) =>
      val (sa, sb) = (stripCastToDouble(a), stripCastToDouble(b))
      (sameVar(sa, acc) && sameVar(sb, el)) ||
        (sameVar(sa, el) && sameVar(sb, acc))
    case _ => false
  }

  private object DotHof {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case ArrayAggregate(
          ZipWith(l, r, LambdaFunction(mul,
            Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _)),
          Literal(0.0, DoubleType),
          LambdaFunction(add,
            Seq(acc: NamedLambdaVariable, el: NamedLambdaVariable), _),
          LambdaFunction(fin, Seq(fv: NamedLambdaVariable), _))
        if sameVar(fin, fv) && isFloatArray(l) && isFloatArray(r) &&
          isMulOfVars(mul, x, y) && isAddOfVars(add, acc, el) =>
        Some((l, r))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case DotHof(l, r) => DotFold(l, r)
    }
}
