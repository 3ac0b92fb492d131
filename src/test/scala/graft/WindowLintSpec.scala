package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec

/** Full-surface plan lint: NO declared query may plan a WindowExec with an
  * empty partition spec over a data-proportional frame. An unpartitioned
  * window is one task sorting its whole input — the scale-killer class the
  * round-11 verdict swept by hand (events_rfm / ann_rrf_fusion were the
  * last two); this spec turns that sweep into a gate the way the round-8
  * decimal lesson became OracleLintSpec.
  *
  * A global window IS legitimate when its input is bounded by
  * construction, independent of data volume; each allowlisted query names
  * which bounded class its global frame belongs to:
  *  - post-TakeOrdered heads: a ≤k-row top-k already reduced by
  *    TakeOrderedAndProject;
  *  - domain grids: hour-of-day / bucket / calendar-day frames whose
  *    cardinality is fixed by the domain, not the corpus.
  * Anything else must partition its windows (or re-plan onto the native
  * `graft.plans.GlobalRank` operator).
  */
class WindowLintSpec extends SparkSpec {

  /** query → bounded-frame class justifying its global window(s).
    * Every entry was verified against the planned frame (file:line in the
    * query source); the companion "no dead entries" test keeps the list
    * honest when a query re-plans its window away.
    */
  private val allowlist: Map[String, String] = Map(
    // post-limit / top-k heads (≤ k rows after TakeOrderedAndProject)
    "agg_pareto_share" -> "50-row post-TakeOrdered head",
    "agg_skyline" -> "post-TakeOrdered head",
    "curation_js_divergence" -> "2-row top-source head",
    "text_bm25" -> "3-row query-term head (rank over top-df terms)",
    "text_zipf_fit" -> "100-row post-TakeOrdered vocab head",
    // domain-bounded grids (cardinality fixed by the domain, not N)
    "agg_chi_square" -> "contingency grid (|event_type| x 7 weekdays)",
    "dedup_threshold_curve" -> "21-row cosine-bucket curve",
    "eval_lift" -> "10-row decile grid (rank itself is the native operator)",
    "events_survival" -> "calendar-day duration domain (life table rows)",
    "events_attribution" -> "per-touch-type rollup (|event_type| rows)",
    "events_concurrency" -> "per-bucket aggregate (|buckets| rows)",
    "profile_drift" -> "10-bin PSI grid",
    "stat_ks_bands" ->
      "$100 price-band domain grid (bounded by price range, not rows)"
  )

  private def globalWindows(plan: SparkPlan): Seq[WindowExec] =
    plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }

  test("no query plans an unpartitioned window over an unbounded frame") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          val wins =
            try globalWindows(fn(spark, sf).queryExecution.executedPlan)
            catch { case e: Throwable =>
              fail(s"$name failed to plan at $sf: ${e.getMessage}")
            }
          if (wins.nonEmpty && !allowlist.contains(name)) Some(name)
          else None
      }
      assert(offenders.isEmpty,
        s"unpartitioned WindowExec outside the allowlist: $offenders — " +
          "re-plan onto GlobalRank or justify the bounded frame here")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("the allowlist carries no dead entries") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val dead = allowlist.keys.toSeq.sorted.filter { name =>
        SparkEntry.queries.get(name) match {
          case None => true // query gone entirely
          case Some(fn) =>
            globalWindows(fn(spark, sf).queryExecution.executedPlan).isEmpty
        }
      }
      assert(dead.isEmpty,
        s"allowlist entries with no global window anymore (stale): $dead")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
