package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Bucketed co-located joins: `join_bucketed` reads two tables bucketed on
  * the join key, so its join and the follow-on aggregate on that key plan
  * with zero shuffle exchanges.
  */
class BucketingSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("join of two tables bucketed on the key has no shuffle") {
    // disable broadcast so the join would otherwise need a shuffle
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val q = SparkEntry.queries("join_bucketed")(spark, sf)
      assert(q.collect().nonEmpty)
      val plan = q.queryExecution.executedPlan
      val shuffles = collectWithSubqueries(plan) {
        case s: ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty,
        s"expected shuffle-free bucketed join, found: $shuffles")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
