package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.core.{DotFold, DotMixed, Md5Hi64, Md5Mod1e9, SumSqFold}

/** Installable session extensions: register graft's native expressions at
  * session build time —
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)          // programmatic
  *   // or: .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * This is the deployment path for a shared cluster (spark-defaults.conf);
  * `GraftFunctions.ensureRegistered` remains the in-process fallback used
  * by the query registry.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      FunctionIdentifier("graft_md5_mod_1e9"),
      new ExpressionInfo(classOf[Md5Mod1e9].getName, "graft_md5_mod_1e9"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        Md5Mod1e9(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_md5_hi64"),
      new ExpressionInfo(classOf[Md5Hi64].getName, "graft_md5_hi64"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        Md5Hi64(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_top_k_by"),
      new ExpressionInfo(classOf[graft.core.TopKBy].getName, "graft_top_k_by"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.core.TopKBy.withCasts(exprs(0), exprs(1), exprs(2))))
    e.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotFold].getName, "graft_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotFold(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_sumsq"),
      new ExpressionInfo(classOf[SumSqFold].getName, "graft_sumsq"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SumSqFold(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("graft_dot_mixed"),
      new ExpressionInfo(classOf[DotMixed].getName, "graft_dot_mixed"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotMixed(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[graft.core.BloomMightContain].getName,
        "graft_bloom_contains"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        graft.core.BloomMightContain(exprs(0), exprs(1))))
    // whole-operator extension: the native as-of join's planner strategy
    e.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
    // optimizer extension: transparently fold the hand-written HOF dot
    // product into the codegen'd graft_dot kernel
    e.injectOptimizerRule(_ => graft.plans.FoldVectorHofs)
    // optimizer extension: bin-bucket pure range joins into equi joins
    // when spark.graft.rangeJoin.binSize is set (inert otherwise)
    e.injectOptimizerRule(_ => graft.plans.RangeBinJoin)
    // whole-operator extension: native exact global ranking, running
    // sum and lag/lead (plans/GlobalRank) + its opt-in Window rewrite
    // (spark.graft.distRank.enabled; inert otherwise)
    e.injectPlannerStrategy(_ => new graft.plans.GlobalRankStrategy)
    e.injectOptimizerRule(_ => graft.plans.GlobalRankRewrite)
  }
}
