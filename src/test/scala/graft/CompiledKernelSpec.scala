package graft

import java.math.BigInteger

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, AttributeReference, BindReferences, EvalMode, Expression, JoinedRow, NumericEvalContext, UnsafeProjection, UnscaledValue}
import org.apache.spark.sql.catalyst.expressions.aggregate.{DeclarativeAggregate, Sum}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Decimal, DecimalType}

import graft.core.Int128DecimalSum
import graft.plans.{CompileTransform, SumDecimalInLongs, TransformLoop}

/** The compiled kernels two optimizer rules put in place of Spark's boxed
  * per-element paths: single-lambda `transform` as a [[TransformLoop]], and
  * `DECIMAL(p<=18)` sums in [[Int128DecimalSum]]'s two-long accumulator.
  * Each result is compared with the same query planned with the rule
  * excluded through `spark.sql.optimizer.excludedRules`.
  */
class CompiledKernelSpec extends SparkSpec {

  private def excluding[T](rule: Rule[_])(body: => T): T = {
    spark.conf.set("spark.sql.optimizer.excludedRules", rule.ruleName)
    try body finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  /** `q` with and without `rule`: asserts equal rows; returns them and
    * both optimized plans.
    */
  private def sameAsExcluded(rule: Rule[_], q: => DataFrame) = {
    val on = q
    val off = excluding(rule)(q)
    val offRows = excluding(rule)(rows(off))
    val got = rows(on)
    assert(got === offRows)
    (got, on.queryExecution.optimizedPlan, off.queryExecution.optimizedPlan)
  }

  private def arrays = {
    import spark.implicits._
    Seq[(Int, Seq[Integer], Long)](
      (1, Seq(1, 2, 2), 10L), (2, Seq(), 1L), (3, null, 2L), (4, Seq(5), 3L),
      (5, Seq(1, null, 3), 4L))
      .toDF("id", "a", "k")
      .withColumn("s", transform(col("a"), x => struct(x.as("y"),
        lit("p").as("z"))))
      .withColumn("t", split(concat_ws(" ", col("a")), " "))
      .repartition(2)
  }

  private def holds(p: LogicalPlan, f: Expression => Boolean): Boolean =
    p.exists(_.expressions.exists(_.exists(f)))

  private def hasArrayTransform(p: LogicalPlan) =
    holds(p, _.isInstanceOf[ArrayTransform])

  test("compiled transform equals ArrayTransform: null, empty, singleton, " +
    "null-element and duplicate arrays, struct fields, outer columns") {
    val (_, on, off) = sameAsExcluded(CompileTransform,
      arrays.select(col("id"),
        transform(col("a"), x => x * 2).as("doubled"),
        transform(col("a"), x => coalesce(x, lit(-1)) + col("k")).as("outer"),
        transform(col("s"), _.getField("y")).as("field"),
        transform(col("a"), x => x.isNull).as("nulls"),
        graft.ops.TextOps.bigramShingles(col("t")).as("bigrams"))
        .orderBy("id"))
    assert(!hasArrayTransform(on) && hasArrayTransform(off))
  }

  test("index lambdas, nested higher-order functions and nondeterministic " +
    "bodies keep ArrayTransform") {
    val q = arrays.select(col("id"),
      transform(col("a"), (x, i) => x + i).as("indexed"),
      transform(col("a"), x => aggregate(col("a"), lit(0),
        (acc, y) => acc + y) + x).as("nested"),
      transform(col("a"), x => x + (rand(7) * 0).cast("int")).as("random"))
    val plan = q.queryExecution.optimizedPlan
    assert(!holds(plan, _.isInstanceOf[TransformLoop]), s"rewritten:\n$plan")
    val kept = plan.collect { case p => p.expressions.flatMap(_.collect {
      case t: ArrayTransform => t }) }.flatten
    assert(kept.size === 3, plan.toString)
  }

  test("the compiled transform's projection stays in whole-stage codegen") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.ops.TextOps.withTokens(
          graft.core.Tables.read(spark, sf, "documents"))
        .select(graft.ops.TextOps.bigramShingles(col("t")).as("sh"))
      val plan = df.queryExecution.executedPlan
      val inStage = plan.collect { case w: WholeStageCodegenExec =>
        w.child.collect { case p: ProjectExec =>
          p.projectList.exists(_.exists(_.isInstanceOf[TransformLoop]))
        }
      }.flatten
      assert(inStage.contains(true), s"no codegen'd loop projection:\n$plan")
      assert(df.count() > 0)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("interpreted evaluation (a generator outside whole-stage codegen) " +
    "reads outer columns") {
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try sameAsExcluded(CompileTransform,
      arrays.select(col("id"),
        posexplode(transform(col("a"), x => x + col("k"))))
        .orderBy("id", "pos"))
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  private val dec = DecimalType(18, 2)
  private val maxDec = "9999999999999999.99"

  private def amounts = {
    import spark.implicits._
    (Seq[(Int, String)]((1, "12.34"), (1, "-0.01"), (1, null), (2, null),
      (2, null), (3, "-99999999.99"), (3, "5.00")) ++
      Seq.fill(20)((4, maxDec)) ++ Seq.fill(20)((5, "-" + maxDec)) ++
      Seq.fill(7)((6, maxDec)) ++ Seq.fill(7)((6, "-" + maxDec)))
      .toDF("k", "v").repartition(3)
      .withColumn("v", col("v").cast(dec))
  }

  private def sums(p: LogicalPlan) =
    p.collect { case a: Aggregate =>
      a.aggregateExpressions.flatMap(_.collect {
        case _: Sum => "Sum"
        case _: Int128DecimalSum => "Int128"
      })
    }.flatten

  test("two-long decimal sum equals Spark's Sum over partial and final " +
    "aggregation: nulls, an all-null group, negatives, past Long.MaxValue") {
    val (got, on, off) = sameAsExcluded(SumDecimalInLongs,
      amounts.groupBy("k").agg(sum("v").as("s"), count(lit(1)).as("n"))
        .orderBy("k"))
    assert(sums(on) === Seq("Int128") && sums(off) === Seq("Sum"))
    val byKey = got.map(r => r(0) -> r(1)).toMap
    assert(byKey(2) == null, "an all-null group sums to null")
    assert(byKey(4) === new java.math.BigDecimal(maxDec).multiply(
      java.math.BigDecimal.valueOf(20)), "exact past Long.MaxValue unscaled")
    sameAsExcluded(SumDecimalInLongs, amounts.agg(sum("v"), sum(-col("v"))))
  }

  test("a global decimal sum over no rows is null, like Sum") {
    val (got, on, _) = sameAsExcluded(SumDecimalInLongs,
      amounts.filter(col("k") > 100).agg(sum("v").as("s")))
    assert(sums(on) === Seq("Int128"))
    assert(got === Seq(Seq(null)))
  }

  /** `agg` driven the way a hash aggregate drives it — every step stored
    * into an UnsafeRow of the buffer schema — from `start`, through one
    * update with `v`, one merge with `other` and the finish.
    */
  private def drive(agg: DeclarativeAggregate, in: AttributeReference,
      start: InternalRow, v: Decimal, other: InternalRow): Any = {
    val buf = agg.aggBufferAttributes
    val store = UnsafeProjection.create(buf.map(_.dataType).toArray)
    val update = UnsafeProjection.create(agg.updateExpressions, buf :+ in)
    val merge = UnsafeProjection.create(agg.mergeExpressions,
      buf ++ agg.inputAggBufferAttributes)
    val updated = update(new JoinedRow(store(start), InternalRow(v))).copy()
    val merged = merge(new JoinedRow(updated, store(other))).copy()
    BindReferences.bindReference(agg.evaluateExpression, buf).eval(merged)
  }

  test("an accumulator reaching 10^28 is null with ANSI off and fails as " +
    "Sum fails with ANSI on") {
    // ten billion rows of the widest DECIMAL(18,2) are needed to reach
    // 10^28, so both aggregates start from a buffer next to the limit
    val in = AttributeReference("v", dec)()
    val limit = BigInteger.TEN.pow(28)
    val zero = BigInteger.ZERO
    def halves(u: BigInteger) = (u.shiftRight(64).longValueExact, u.longValue)
    def both(start: BigInteger, v: String, other: BigInteger,
        ansi: Boolean): (Any, Any) = {
      val mode = if (ansi) EvalMode.ANSI else EvalMode.LEGACY
      val sumAgg = Sum(in, NumericEvalContext(mode))
      val kernel = Int128DecimalSum(UnscaledValue(in), DecimalType(28, 2),
        nullOnOverflow = !ansi)
      def sumBuf(u: BigInteger) = InternalRow(
        Decimal(BigDecimal(new java.math.BigDecimal(u, 2)), 28, 2), u == zero)
      def kernelBuf(u: BigInteger) = {
        val (h, l) = halves(u)
        InternalRow(h, l, u == zero, false)
      }
      def run(f: => Any): Any =
        try f catch { case e: ArithmeticException => e.getMessage }
      (run(drive(sumAgg, in, sumBuf(start), Decimal(v), sumBuf(other))),
        run(drive(kernel, in, kernelBuf(start), Decimal(v), kernelBuf(other))))
    }
    val one = BigInteger.ONE
    for (ansi <- Seq(false, true)) {
      // the last representable values stay exact
      val (s0, k0) = both(limit.subtract(BigInteger.TWO), "0.01", zero, ansi)
      assert(s0 === k0 && s0 != null, s"ansi=$ansi")
      val (n0, m0) = both(limit.negate.add(BigInteger.TWO), "-0.01", zero, ansi)
      assert(n0 === m0 && n0 != null, s"ansi=$ansi")
      // one cent past, on update and on merge, at either sign
      for ((start, v, other) <- Seq(
          (limit.subtract(one), "0.01", zero),
          (limit.negate.add(one), "-0.01", zero),
          (limit.subtract(BigInteger.valueOf(5)), "0.01", BigInteger.valueOf(4)),
          (limit.negate.add(BigInteger.valueOf(5)), "-0.01",
            BigInteger.valueOf(-4)))) {
        val (s, k) = both(start, v, other, ansi)
        assert(s === k, s"ansi=$ansi start=$start")
        if (ansi) assert(String.valueOf(k).contains("ARITHMETIC_OVERFLOW"), k)
        else assert(k == null)
      }
    }
  }

  test("DECIMAL(8,2) sums keep DecimalAggregates; window and distinct sums " +
    "keep Sum") {
    val small = amounts.withColumn("v", col("v").cast("decimal(8,2)"))
      .filter(col("k") <= 3)
    val (_, narrow, _) = sameAsExcluded(SumDecimalInLongs,
      small.groupBy("k").agg(sum("v")).orderBy("k"))
    assert(sums(narrow) === Seq("Sum"))
    assert(narrow.toString.contains("MakeDecimal"), narrow.toString)
    val (_, windowed, _) = sameAsExcluded(SumDecimalInLongs,
      amounts.select(col("k"), sum("v").over(Window.partitionBy("k")).as("s"))
        .orderBy("k"))
    assert(windowed.exists(_.isInstanceOf[logical.Window]))
    assert(!holds(windowed, _.isInstanceOf[Int128DecimalSum]))
    val (_, distinct, _) = sameAsExcluded(SumDecimalInLongs,
      amounts.groupBy("k").agg(sum_distinct(col("v"))).orderBy("k"))
    assert(sums(distinct) === Seq("Sum"))
  }
}
