package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.core.GraftFunctions

/** Installable session extensions: graft's functions, optimizer rules and
  * planner strategies at session build time —
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)          // programmatic
  *   // or: .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * This is the deployment path for a shared cluster (spark-defaults.conf).
  * It installs the same table as `GraftFunctions.ensureRegistered`, the
  * in-process path the query registry uses.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(f => e.injectFunction(f.description))
    GraftFunctions.optimizerRules.foreach(r => e.injectOptimizerRule(_ => r))
    GraftFunctions.strategies.foreach(e.injectPlannerStrategy)
  }
}
