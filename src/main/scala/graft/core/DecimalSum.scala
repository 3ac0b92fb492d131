package graft.core

import java.math.{BigDecimal => JBigDecimal, BigInteger}

import org.apache.spark.QueryContext
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._

/** `sum` of a `DECIMAL(p, s)` column with `p <= 18`, accumulated as a
  * 128-bit two's-complement integer in two longs, `(hi, lo)`.
  *
  * `child` is the column's unscaled long (`UnscaledValue`); the result is
  * `resultType`, Spark's `DECIMAL(p + 10, s)`. Spark's own `Sum` keeps that
  * buffer as a `Decimal` of precision above 18, so every row moves through
  * a `BigDecimal` and the buffer row stores it as `BigInteger` bytes. Here
  * update and merge are codegen'd long additions ([[Int128AddHi]]: the low
  * words add wrapping, and an unsigned compare of the new low word against
  * the old gives the carry into the high word), each a static call small
  * enough that the aggregate's generated method stays JIT-compilable.
  *
  * Nulls are `Sum`'s: an empty or all-null group is null. An accumulator
  * that reaches `10^(p + 10)` in magnitude after any update or merge sets a
  * sticky overflow flag (where `Sum`'s buffer row nulls its decimal). An
  * overflowed group is null when `nullOnOverflow`, and otherwise fails with
  * `Sum`'s own error, through `CheckOverflowInSum` and the query context of
  * the origin it is built under. No sum of fewer than 2^60 rows can wrap
  * the 128 bits.
  */
case class Int128DecimalSum(child: Expression, resultType: DecimalType,
    nullOnOverflow: Boolean)
    extends DeclarativeAggregate with UnaryLike[Expression]
    with SupportQueryContext {

  override def dataType: DataType = resultType
  override def nullable: Boolean = true
  override def prettyName: String = "int128_sum"
  override def stringArgs: Iterator[Any] = Iterator(child)
  override def initQueryContext(): Option[QueryContext] = Some(origin.context)

  private lazy val hi = AttributeReference("hi", LongType, nullable = false)()
  private lazy val lo = AttributeReference("lo", LongType, nullable = false)()
  private lazy val isEmpty =
    AttributeReference("isEmpty", BooleanType, nullable = false)()
  private lazy val overflow =
    AttributeReference("overflow", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(hi, lo, isEmpty, overflow)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0L), Literal(0L), Literal(true), Literal(false))

  /** `(aHi, aLo) + (bHi, bLo)`, as the new `(hi, lo)`. */
  private def add128(aHi: Expression, aLo: Expression, bHi: Expression,
      bLo: Expression): (Expression, Expression) =
    (Int128AddHi(aHi, aLo, bHi, bLo), Add(aLo, bLo, EvalMode.LEGACY))

  private def overflows(was: Expression, hi: Expression,
      lo: Expression): Expression =
    Or(was, Int128OutOfRange(hi, lo, resultType.precision))

  override lazy val updateExpressions: Seq[Expression] = {
    val (newHi, newLo) = add128(hi, lo, ShiftRight(child, Literal(63)), child)
    val updated =
      Seq(newHi, newLo, Literal(false), overflows(overflow, newHi, newLo))
    if (!child.nullable) updated
    else updated.zip(aggBufferAttributes).map { case (u, old) =>
      If(IsNull(child), old, u)
    }
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val (newHi, newLo) = add128(hi.left, lo.left, hi.right, lo.right)
    Seq(newHi, newLo, And(isEmpty.left, isEmpty.right),
      overflows(Or(overflow.left, overflow.right), newHi, newLo))
  }

  override lazy val evaluateExpression: Expression =
    If(isEmpty, Literal.create(null, resultType),
      CheckOverflowInSum(
        If(overflow, Literal.create(null, resultType),
          Int128ToDecimal(hi, lo, resultType)),
        resultType, nullOnOverflow, getContextOrNull()))

  override protected def withNewChildInternal(
      newChild: Expression): Int128DecimalSum = copy(child = newChild)
}

/** The high word of the 128-bit sum `(aHi, aLo) + (bHi, bLo)`: the low
  * words add wrapping, and the new low word comparing unsigned below `aLo`
  * carries one into the high word.
  */
case class Int128AddHi(aHi: Expression, aLo: Expression, bHi: Expression,
    bLo: Expression) extends QuaternaryExpression {
  override def first: Expression = aHi
  override def second: Expression = aLo
  override def third: Expression = bHi
  override def fourth: Expression = bLo
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    Int128.addHi(a.asInstanceOf[Long], b.asInstanceOf[Long],
      c.asInstanceOf[Long], d.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.core.Int128.addHi($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(a: Expression,
      b: Expression, c: Expression, d: Expression): Int128AddHi =
    copy(aHi = a, aLo = b, bHi = c, bLo = d)
}

/** `|(hi, lo)| >= 10^precision`, for the 128-bit `hi * 2^64 + unsigned(lo)`. */
case class Int128OutOfRange(hi: Expression, lo: Expression, precision: Int)
    extends BinaryExpression {
  override def left: Expression = hi
  override def right: Expression = lo
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override protected def nullSafeEval(h: Any, l: Any): Any =
    Int128.outOfRange(h.asInstanceOf[Long], l.asInstanceOf[Long], precision)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, l) =>
      s"graft.core.Int128.outOfRange($h, $l, $precision)")
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Int128OutOfRange =
    copy(hi = newLeft, lo = newRight)
}

/** The `DECIMAL` whose unscaled value is the 128-bit `hi * 2^64 +
  * unsigned(lo)`; runs once per group, in [[Int128DecimalSum]]'s finish.
  */
case class Int128ToDecimal(left: Expression, right: Expression,
    dataType: DecimalType) extends BinaryExpression {
  override def nullable: Boolean = false
  override protected def nullSafeEval(h: Any, l: Any): Any =
    Int128.toDecimal(h.asInstanceOf[Long], l.asInstanceOf[Long],
      dataType.precision, dataType.scale)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (h, l) =>
      s"graft.core.Int128.toDecimal($h, $l, ${dataType.precision}, " +
        s"${dataType.scale})")
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Int128ToDecimal =
    copy(left = newLeft, right = newRight)
}

/** Two's-complement 128-bit integers as `(hi, lo)` long pairs. */
object Int128 {
  def addHi(aHi: Long, aLo: Long, bHi: Long, bLo: Long): Long =
    aHi + bHi + (if (java.lang.Long.compareUnsigned(aLo + bLo, aLo) < 0) 1L
      else 0L)

  /** `(hi, lo)` of `±10^p`, p = 0..38. */
  private val bounds: Array[Array[Long]] = Array.tabulate(39) { p =>
    val b = BigInteger.TEN.pow(p)
    Array(b.shiftRight(64).longValue, b.longValue,
      b.negate.shiftRight(64).longValue, b.negate.longValue)
  }

  def outOfRange(hi: Long, lo: Long, precision: Int): Boolean = {
    val b = bounds(precision)
    (hi > b(0) || (hi == b(0) && java.lang.Long.compareUnsigned(lo, b(1)) >= 0)) ||
      (hi < b(2) || (hi == b(2) && java.lang.Long.compareUnsigned(lo, b(3)) <= 0))
  }

  def toDecimal(hi: Long, lo: Long, precision: Int, scale: Int): Decimal =
    if (hi == lo >> 63) Decimal(lo, precision, scale)
    else {
      val unscaled = BigInteger.valueOf(hi).shiftLeft(64)
        .add(new BigInteger(java.lang.Long.toUnsignedString(lo)))
      Decimal(BigDecimal(new JBigDecimal(unscaled, scale)), precision, scale)
    }
}
