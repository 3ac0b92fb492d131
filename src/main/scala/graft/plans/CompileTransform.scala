package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.{LambdaVariable, MapObjects}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.trees.TreePattern.HIGH_ORDER_FUNCTION
import org.apache.spark.sql.types.{ArrayType, DataType}

/** Optimizer rule: a single-lambda `transform(arr, x -> body)` becomes a
  * compiled loop, [[TransformLoop]].
  *
  * Spark's `ArrayTransform` is CodegenFallback: the whole projection
  * around it leaves whole-stage codegen and the body is interpreted per
  * element, through a boxed `AtomicReference` lambda variable. The n-gram
  * shingles (`TextOps.bigramShingles`), `TextAnalysis.chunk`'s slices and
  * `Forecast`'s `getField` transforms all take that path on every row.
  * The loop has the same result type, `ArrayType(body.dataType,
  * body.nullable)`, and the same nulls: a null array is null, a null
  * element is bound as null.
  *
  * Left as `ArrayTransform`: index lambdas `(x, i)`, nondeterministic
  * bodies, and bodies holding any other CodegenFallback expression — a
  * nested higher-order function among them. A CodegenFallback node
  * evaluates its subtree through `eval`, which cannot see the loop's
  * element variable.
  *
  * Listed in `GraftFunctions.optimizerRules`; excluded by name through
  * `spark.sql.optimizer.excludedRules`.
  */
object CompileTransform extends Rule[LogicalPlan] {

  private def compilable(body: Expression): Boolean =
    body.deterministic && !body.exists {
      case _: NamedLambdaVariable => false
      case _: CodegenFallback | _: TransformLoop => true
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(
        _.containsPattern(HIGH_ORDER_FUNCTION)) {
      case ArrayTransform(arr,
          LambdaFunction(body, Seq(x: NamedLambdaVariable), _))
          if compilable(body) =>
        val at = arr.dataType.asInstanceOf[ArrayType]
        val v = LambdaVariable(x.name, at.elementType, at.containsNull)
        TransformLoop(v, body.transform {
          case n: NamedLambdaVariable if n.exprId == x.exprId => v
        }, arr)
    }
}

/** `transform(argument, loopVar -> body)` as a compiled loop: the
  * generated code is Spark's `MapObjects` loop over `argument`, with
  * `loopVar` bound per element in a primitive local.
  *
  * Interpreted evaluation is `ArrayTransform`'s own, with a
  * `NamedLambdaVariable` in `loopVar`'s place. `MapObjects.eval` binds the
  * element as the whole input row, so a body that reads an outer column
  * would read the wrong slot on any interpreted path: a `GenerateExec`
  * outside whole-stage codegen, an enclosing CodegenFallback, or an
  * imperative aggregate's argument.
  *
  * The loop variable is renamed per codegen context, so the generated
  * source of a re-planned query is identical and hits the codegen cache.
  */
case class TransformLoop(loopVar: LambdaVariable, body: Expression,
    argument: Expression)
    extends Expression with TernaryLike[Expression] with NonSQLExpression {

  override def first: Expression = loopVar
  override def second: Expression = body
  override def third: Expression = argument

  override def dataType: DataType = ArrayType(body.dataType, body.nullable)
  override def nullable: Boolean = argument.nullable

  @transient private lazy val interpreted: ArrayTransform = {
    val x = NamedLambdaVariable(loopVar.name, loopVar.dataType,
      loopVar.nullable)
    ArrayTransform(argument,
      LambdaFunction(body.transform { case `loopVar` => x }, Seq(x)))
  }

  override def eval(input: InternalRow): Any = interpreted.eval(input)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val v = LambdaVariable(ctx.freshName("elem"), loopVar.dataType,
      loopVar.nullable, id = 0L)
    MapObjects(v, body.transform { case `loopVar` => v }, argument, None)
      .genCode(ctx)
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): TransformLoop =
    copy(loopVar = newFirst.asInstanceOf[LambdaVariable], body = newSecond,
      argument = newThird)
}
