package graft.core

import java.security.MessageDigest

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Runtime kernel for the surrogate-key hash, shared by interpreted eval and
  * generated code. Semantics (reference `etl/core/utils.py:5-8`): MD5 over the
  * UTF-8 bytes of the pipe-joined natural key, hex digest read as ONE 128-bit
  * unsigned integer, reduced mod 10^9. Must stay bit-for-bit stable — it is
  * cross-checked against Python/DuckDB vectors in HashKeySpec.
  */
object HashKeyOps {
  private val Mod = 1000000000L
  // 2^64 mod 1e9 — lets us fold the 128-bit digest with 64-bit arithmetic:
  // ((hi % m) * (2^64 % m) + lo % m) % m; max intermediate ~7.1e17 < 2^63.
  private val TwoPow64Mod = 709551616L

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  def md5Mod1e9(s: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val digest = md.digest(s.getBytes)
    // digest is big-endian: bytes 0-7 = high 64 bits of the hex number.
    var hi = 0L; var lo = 0L
    var i = 0
    while (i < 8) { hi = (hi << 8) | (digest(i) & 0xffL); i += 1 }
    while (i < 16) { lo = (lo << 8) | (digest(i) & 0xffL); i += 1 }
    val hiMod = java.lang.Long.remainderUnsigned(hi, Mod)
    val loMod = java.lang.Long.remainderUnsigned(lo, Mod)
    (hiMod * TwoPow64Mod + loMod) % Mod
  }

  /** Non-negative 63-bit hash: high half of the MD5 digest, unsigned-shifted
    * right by one. Used as a general-purpose stable hash for minhash/simhash
    * seeds. Public construction only (MD5 + big-endian read), so a DuckDB
    * oracle mirrors it exactly with `CAST(md5_number_upper(x) // 2 AS BIGINT)`.
    */
  def md5Hi64(s: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val digest = md.digest(s.getBytes)
    var hi = 0L
    var i = 0
    while (i < 8) { hi = (hi << 8) | (digest(i) & 0xffL); i += 1 }
    hi >>> 1
  }

}

/** Catalyst expression: `md5_mod_1e9(string) -> long`.
  *
  * The reference's only non-relational scalar (`etl/core/utils.py:5-8`,
  * applied per-row at `etl/core/key_mapper.py:24` and every dim transform).
  * Implemented as a native expression with `doGenCode` so it stays inside
  * whole-stage codegen instead of breaking the pipeline like a Scala UDF
  * would.
  */
case class Md5Mod1e9(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"md5_mod_1e9 requires string input, got ${child.dataType}")
  override def nullSafeEval(input: Any): Any =
    HashKeyOps.md5Mod1e9(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.HashKeyOps.md5Mod1e9($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5Mod1e9 =
    copy(child = newChild)
  override def prettyName: String = "md5_mod_1e9"
}

/** Same shape, full-width high-64 hash (for minhash/simhash seeding). */
case class Md5Hi64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"md5_hi64 requires string input, got ${child.dataType}")
  override def nullSafeEval(input: Any): Any =
    HashKeyOps.md5Hi64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.core.HashKeyOps.md5Hi64($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5Hi64 =
    copy(child = newChild)
  override def prettyName: String = "md5_hi64"
}

/** Graft's one registration table — every SQL function, optimizer rule
  * and planner strategy it adds to a session — and the in-process path that
  * installs it. [[graft.GraftExtensions]] installs the same table at session
  * build time; functions are exposed through the public `call_function` API
  * (no private Spark internals needed at call sites).
  */
object GraftFunctions {
  private val registeredSessions =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  /** One SQL function: its name, the argument list its arity error names,
    * its arity, and the expression builder.
    */
  final case class Fn(name: String, sig: String, arity: Int,
      build: Seq[Expression] => Expression) {
    /** The registration both paths install. The builder is arity-gated: a
      * wrong-arity call surfaces as a clean analysis-time error naming the
      * expected signature (the way built-in registrations do) instead of an
      * IndexOutOfBoundsException from a bare `exprs(i)`.
      */
    def description: (FunctionIdentifier, ExpressionInfo,
        Seq[Expression] => Expression) =
      (FunctionIdentifier(name), new ExpressionInfo(classOf[Fn].getName, name),
        exprs => {
          if (exprs.length != arity) throw new IllegalArgumentException(
            s"Invalid number of arguments for function $name: expected " +
              s"$arity ($name($sig)), found ${exprs.length}")
          build(exprs)
        })
  }

  val functions: Seq[Fn] = Seq(
    Fn("graft_md5_mod_1e9", "str", 1, e => Md5Mod1e9(e.head)),
    Fn("graft_md5_hi64", "str", 1, e => Md5Hi64(e.head)),
    Fn("graft_top_k_by", "value, key, k", 3, e =>
      TopKBy.withCasts(e(0), e(1), e(2))),
    Fn("graft_dot", "vecA, vecB", 2, e => DotFold(e(0), e(1))),
    Fn("graft_sumsq", "vec", 1, e => SumSqFold(e.head)),
    Fn("graft_dot_mixed", "vecA, vecB", 2, e => DotMixed(e(0), e(1))),
    Fn("graft_bloom_contains", "filter, value", 2, e =>
      BloomMightContain(e(0), e(1))),
    Fn("graft_image_dims", "bytes", 1, e => graft.ops.ImageDims(e.head)),
    Fn("graft_audio_meta", "bytes", 1, e => graft.ops.AudioMeta(e.head)),
    Fn("graft_jaro_winkler", "strA, strB", 2, e =>
      JaroWinklerSim(e(0), e(1))),
    Fn("graft_blocklist_mask", "text, phrases", 2, e =>
      graft.ops.BlocklistMask.fromExprs(e(0), e(1))))

  /** Optimizer rules: the HOF dot product folded into the `graft_dot`
    * kernel, single-lambda `transform` compiled into a loop, `DECIMAL(p<=18)`
    * sums accumulated in two longs, and pure range joins bin-bucketed into
    * equi joins when `spark.graft.rangeJoin.binSize` is set (inert
    * otherwise).
    */
  val optimizerRules: Seq[Rule[LogicalPlan]] =
    Seq(graft.plans.FoldVectorHofs, graft.plans.CompileTransform,
      graft.plans.SumDecimalInLongs, graft.plans.RangeBinJoin)

  /** Planner strategies for the native operators that explicit calls
    * build: the as-of join and the global rank family.
    */
  val strategies: Seq[SparkSession => SparkStrategy] = Seq(
    _ => new graft.plans.AsOfJoinStrategy,
    _ => new graft.plans.GlobalRankStrategy)

  def ensureRegistered(spark: SparkSession): Unit =
    if (registeredSessions.add(spark)) {
      // Reference semantics are pandas' errors="coerce": invalid casts/array
      // indexes yield null, never exceptions (SURVEY §7.4.5). Spark 4 flipped
      // ANSI mode on by default — turn it off for graft sessions.
      spark.conf.set("spark.sql.ansi.enabled", "false")
      // events.ts is parquet TIMESTAMP(NANOS); read as long, rebuilt in
      // Tables.read.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val reg = spark.sessionState.functionRegistry
      for (f <- functions) {
        val (id, info, builder) = f.description
        reg.registerFunction(id, info, builder)
      }
      // a session built without GraftExtensions gets the rules and
      // strategies through the experimental hooks
      val ex = spark.experimental
      ex.extraOptimizations ++=
        optimizerRules.filterNot(ex.extraOptimizations.contains)
      ensureStrategies(spark)
    }

  /** Adds the table's strategies that `spark`'s experimental hook lacks
    * (idempotent), so an explicit native-operator call plans in a session
    * neither registration path reached.
    */
  def ensureStrategies(spark: SparkSession): Unit = {
    val ex = spark.experimental
    ex.extraStrategies ++= strategies.map(_(spark)).filterNot(s =>
      ex.extraStrategies.exists(_.getClass == s.getClass))
  }

  /** `hash_key(cols)`: surrogate key over already-normalized natural-key
    * columns — pipe-join then 128-bit-MD5 mod 1e9
    * (reference `etl/core/utils.py:5-8`). Inputs are cast to string; callers
    * must have normalized nulls to "" first (utils.py:15) so pipe positions
    * stay aligned — `concat_ws` would silently skip a null and desynchronize
    * the key.
    */
  def hashKey(cols: Seq[Column]): Column =
    call_function("graft_md5_mod_1e9",
      concat_ws("|", cols.map(_.cast("string")): _*))

  /** Stable full-width 64-bit hash (high half of MD5), for hash families. */
  def hash64(c: Column): Column = call_function("graft_md5_hi64", c)
}
