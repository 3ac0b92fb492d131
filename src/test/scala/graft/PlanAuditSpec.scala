package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Executable form of PLANS.md's audit claims: the plan properties the
  * 100 TB story rests on (pushdown, pruning, broadcast-only stampings,
  * shuffle-free map-side ops) asserted on the real executed plans, so a
  * regression in any of them fails the suite instead of only drifting a
  * bench number. AQE is disabled per-assertion: query stages hide the
  * subtree structure `collect` walks, and the audited shape is identical
  * either way.
  */
class PlanAuditSpec extends SparkSpec {

  private def executed(df: => DataFrame) = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  private def shuffles(plan: org.apache.spark.sql.execution.SparkPlan) =
    plan.collect { case e: ShuffleExchangeExec => e }

  test("filter_range: predicates reach the parquet scan, schema pruned") {
    val plan = executed(SparkEntry.queries("filter_range")(spark, sf))
    val scan = plan.toString
    assert(scan.contains("PushedFilters:") &&
      (scan.contains("GreaterThanOrEqual(l_shipdate") ||
        scan.contains("IsNotNull(l_shipdate")),
      s"range filter not pushed:\n$scan")
    // the fact table is 16 columns; the query needs 4 — the ReadSchema
    // must not contain an unprojected wide column
    assert(!scan.contains("l_comment"), "column pruning lost l_comment")
  }

  test("join_fact_dims: every stamping is a broadcast join, never shuffle-side") {
    // the dim-BUILD subtrees aggregate (distinct keys → small exchanges,
    // dim-sized); the audited claim is that the FACT side joins by
    // broadcast only — no sort-merge/shuffled-hash join anywhere
    val plan = executed(SparkEntry.queries("join_fact_dims")(spark, sf))
    val s = plan.toString
    assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"),
      s"fact joined through a shuffle:\n$s")
    assert("BroadcastHashJoin".r.findAllIn(s).size >= 3,
      s"expected >=3 broadcast stampings:\n$s")
  }

  test("sample_split: pure map-side — zero exchanges before the order-by") {
    val plan = executed(SparkEntry.queries("sample_split")(spark, sf))
    val nonSortShuffles = shuffles(plan)
      .filterNot(_.outputPartitioning.toString.contains("rangepartitioning"))
    assert(nonSortShuffles.isEmpty,
      s"salted-hash split should not shuffle:\n$plan")
  }

  test("text_repetition: pure map-side — zero exchanges before the order-by") {
    val plan = executed(SparkEntry.queries("text_repetition")(spark, sf))
    val nonSortShuffles = shuffles(plan)
      .filterNot(_.outputPartitioning.toString.contains("rangepartitioning"))
    assert(nonSortShuffles.isEmpty,
      s"per-row repetition signals should not shuffle:\n$plan")
  }

  test("ann_multiprobe: corpus joined by broadcast probe shell, never shuffled") {
    val plan = executed(SparkEntry.queries("ann_multiprobe")(spark, sf))
    val s = plan.toString
    assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"),
      s"probe join must stay broadcast:\n$s")
    assert(s.contains("BroadcastHashJoin"), s"expected broadcast probe:\n$s")
  }

  test("dedup_incremental: no cartesian/nested-loop anywhere in the plan") {
    val plan = executed(
      SparkEntry.queries("dedup_incremental")(spark, sf)).toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay bucket-keyed:\n$plan")
  }

  test("join_fuzzy: deletion-key join is hash-equi, never nested-loop") {
    val plan = executed(SparkEntry.queries("join_fuzzy")(spark, sf)).toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"SymSpell candidates must come from the key join:\n$plan")
  }

  test("scan_partition_pruned: only the matching fiscal-year partition is read") {
    val plan = executed(
      SparkEntry.queries("scan_partition_pruned")(spark, sf)).toString
    assert(plan.contains("PartitionFilters:") && plan.contains("fy"),
      s"partition pruning not planned:\n$plan")
  }

  test("cdc_apply: one map-side-combined aggregation, never a window over the log") {
    val plan = executed(SparkEntry.queries("cdc_apply")(spark, sf))
    val s = plan.toString
    assert(!s.contains("Window"), s"latest-wins must be an agg, not a window:\n$s")
    // partial + final SortAggregate pair around exactly one exchange for
    // the reduction (plus the final presentation sort)
    assert("SortAggregate".r.findAllIn(s).size >= 2,
      s"expected partial+final agg:\n$s")
    assert(shuffles(plan).size <= 2, s"log shuffled unreduced:\n$plan")
  }

  test("ann_pq: codebook train/encode/score is all hash-equi — no cartesian") {
    val plan = executed(SparkEntry.queries("ann_pq")(spark, sf)).toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"PQ stages must join on (m, cluster)/(m, dm) keys:\n$plan")
  }

  test("curation_pack_sequences: the packing window is shard-partitioned, not global") {
    val plan = executed(
      SparkEntry.queries("curation_pack_sequences")(spark, sf)).toString
    // a global window would show an empty partition spec / single
    // partition exchange; the shard key must appear in the window's
    // partition expressions
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("SinglePartition"),
      s"packing must not serialize into one partition:\n$plan")
  }

  test("fn_quantile_bucket: assignment is map-side against broadcast cuts") {
    val plan = executed(
      SparkEntry.queries("fn_quantile_bucket")(spark, sf)).toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"cuts must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"the fact side must never shuffle for the cuts:\n$plan")
  }

  test("agg_market_basket: pairs explode map-side — no theta/cartesian join") {
    val plan = executed(
      SparkEntry.queries("agg_market_basket")(spark, sf)).toString
    assert(!plan.contains("CartesianProduct"),
      s"basket pairing must never be a cartesian:\n$plan")
    // the only nested-loop allowed is the broadcast of the 1-row total
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnl <= 1, s"unexpected nested loops:\n$plan")
  }

  test("curation_quality_classifier: GD argmax/update never sorts a window") {
    val plan = executed(
      SparkEntry.queries("curation_quality_classifier")(spark, sf)).toString
    assert(!plan.contains("Window"),
      s"classifier must not contain window operators:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"weight frame must broadcast, not cartesian:\n$plan")
  }

  test("sample_reservoir: corpus ranking is TakeOrdered top-k, not a full sort") {
    val plan = executed(
      SparkEntry.queries("sample_reservoir")(spark, sf)).toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"hash ranking must plan as per-partition top-k:\n$plan")
  }

  test("graph_community_lp: per-round argmax is an aggregate, not a window sort") {
    val plan = executed(
      SparkEntry.queries("graph_community_lp")(spark, sf)).toString
    assert(!plan.contains("Window"),
      s"LP argmax must be max(struct), not row_number:\n$plan")
  }

  test("dedup_embedding_banded: ONE join total — verify lives in the bucket join") {
    // The round-7 sawtooth finding: a verify JOIN-BACK broadcast-hides at
    // small SFs and cliff-transitions to embedding-carrying SMJ rows past
    // the broadcast threshold (measured 40×). The scale-safe shape is a
    // single band-keyed self-join carrying the vectors, cosine computed
    // in-task. Pin it: exactly one join operator in the whole plan.
    val plan = executed(
      SparkEntry.queries("dedup_embedding_banded")(spark, sf)).toString
    val joins = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findAllIn(plan).size
    assert(joins === 1, s"expected exactly the bucket self-join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"candidates must stay bucket-keyed:\n$plan")
  }

  test("lssComponents: star joins ride the node-count broadcast gate") {
    // Drive the PRODUCTION path (round-7 advice: the old form rebuilt the
    // join by hand with an explicit broadcast() hint, so it verified
    // Spark's hint mechanics — a regression deleting the gate inside
    // lssComponents would still have passed). Here lssComponents itself
    // runs under a QueryExecutionListener that captures every executed
    // plan its per-round checksum actions produce, with the size-based
    // auto-broadcast DISABLED: the only way a BroadcastHashJoin can
    // appear is the op's own node-count gate hint. Remove the gate and
    // every round's star joins fall to SortMergeJoin — both asserts fire.
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.listenerManager.register(listener)
    try {
      import spark.implicits._
      val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (5L, 6L), (3L, 7L))
        .toDF("doc_a", "doc_b").repartition(4)
      val out = graft.ops.Dedup.lssComponents(pairs)
      assert(out.count() === 7) // all nodes labeled
      // listener delivery is async — poll until the round plans landed
      val deadline = System.nanoTime() + 30e9.toLong
      while (System.nanoTime() < deadline &&
        !plans.toArray.exists(_.toString.contains("BroadcastHashJoin")))
        Thread.sleep(100)
      val all = plans.toArray.map(_.toString)
      val joinPlans = all.filter(p =>
        p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
          p.contains("ShuffledHashJoin"))
      assert(joinPlans.nonEmpty,
        "expected the per-round checksum actions to execute star joins")
      assert(joinPlans.forall(p => !p.contains("SortMergeJoin") &&
        !p.contains("ShuffledHashJoin")),
        "a star join fell to a shuffle join under the gate:\n" +
          joinPlans.find(p => p.contains("SortMergeJoin") ||
            p.contains("ShuffledHashJoin")).getOrElse(""))
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("join_set_similarity: candidate and verify joins are hash-equi — " +
    "no cartesian/nested-loop anywhere") {
    val plan = executed(
      SparkEntry.queries("join_set_similarity")(spark, sf)).toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"prefix-filtered join must stay hash-equi:\n$plan")
  }

  test("events_concurrency: the boundary-mass window is bucket-" +
    "partitioned; only the |buckets| carry frame is global") {
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = executed(SparkEntry.queries("events_concurrency")(spark, sf))
    val wins = plan.collect { case w: WindowExec => w }
    assert(wins.nonEmpty)
    val (global, parted) = wins.partition(_.partitionSpec.isEmpty)
    assert(parted.nonEmpty,
      "the data-sized running sum must be PARTITIONED BY bucket")
    assert(parted.forall(_.partitionSpec
      .exists(_.toString.contains("bucket"))))
    assert(global.size == 1 && global.head.collectFirst {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }.nonEmpty,
      "a global window may only see the per-bucket aggregated frame")
  }

  test("profile_ks_test: every window is partitioned — the ECDF scan " +
    "never serializes the sample mass") {
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = executed(SparkEntry.queries("profile_ks_test")(spark, sf))
    val wins = plan.collect { case w: WindowExec => w }
    assert(wins.nonEmpty)
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "no WindowExec may run with an empty partition spec")
    assert(wins.exists(_.partitionSpec
      .exists(_.toString.contains("bucket"))),
      "the data-sized scan must be (pair, bucket)-partitioned")
  }

  test("text_bm25: the top-k is TakeOrderedAndProject, never a global " +
    "sort exchange") {
    val plan = executed(SparkEntry.queries("text_bm25")(spark, sf)).toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  // ---- round-10 pins ----

  test("curation_pii_scrub: one map-side corpus pass — zero pre-agg " +
    "exchanges") {
    // 12 regex aggregates in a single global HashAggregate pair; the only
    // exchange is the 1-row partial→final agg hop
    val plan = executed(SparkEntry.queries("curation_pii_scrub")(spark, sf))
    val ex = shuffles(plan)
      .filterNot(_.outputPartitioning.toString.contains("rangepartitioning"))
    assert(ex.forall(_.outputPartitioning.numPartitions == 1),
      s"pii scrub should only exchange the 1-row aggregate:\n$plan")
  }

  test("embedding_triplet_mining: anchors broadcast; corpus never " +
    "shuffle-joined") {
    val plan = executed(
      SparkEntry.queries("embedding_triplet_mining")(spark, sf)).toString
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      s"anchor join must stay broadcast:\n$plan")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("join_record_linkage: pair explosion runs on the pinned-width " +
    "exchange, dim side broadcast") {
    // the AQE-coalescing regression class: the pre-pair probe side is
    // byte-tiny, so the plan must keep the explicit pinned repartition
    // (width = the session's shuffle partitions, >1 so AQE cannot
    // collapse it) AND join by broadcast (PLANS.md round-10)
    val plan = executed(SparkEntry.queries("join_record_linkage")(spark, sf))
    val s = plan.toString
    assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"),
      s"linkage block join must stay broadcast:\n$s")
    val pinned = spark.sessionState.conf.numShufflePartitions
    assert(pinned > 1, "test session must pin shuffle partitions > 1")
    assert(shuffles(plan).exists(_.outputPartitioning.numPartitions == pinned),
      s"pinned $pinned-way repartition missing:\n$s")
  }

  test("eval_auc: the cumulative window sees per-score partials, not rows") {
    // the aggregate must run BELOW the cumulative walk: plan order
    // (bottom-up) is scan → partial/final agg on score → the native
    // running sum (GlobalPrefixSum), and no single-partition window at all
    val plan = executed(SparkEntry.queries("eval_auc")(spark, sf)).toString
    val aggIdx = plan.lastIndexOf("HashAggregate")
    val walkIdx = plan.indexOf("GlobalPrefixSum")
    assert(walkIdx >= 0 && aggIdx > walkIdx,
      s"score aggregation must feed the running sum, not follow it:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
  }

  test("ts_holt_forecast / ts_period_detect: the stream collapses to the " +
    "daily resample before any stateful work") {
    // every exchange carries the resampled frame (or smaller) — nothing
    // data-sized moves after the first map-side-combined count
    for (q <- Seq("ts_holt_forecast", "ts_period_detect")) {
      val plan = executed(SparkEntry.queries(q)(spark, sf)).toString
      assert(plan.contains("HashAggregate"), s"$q lost the resample:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$q should never shuffle-join:\n$plan")
    }
  }

  private def optimized(q: String) =
    SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan

  test("text_chunk, ts_holt_forecast, curation_novelty: every transform " +
    "is a compiled loop") {
    for (q <- Seq("text_chunk", "ts_holt_forecast", "curation_novelty")) {
      val plan = optimized(q)
      assert(!plan.exists(_.expressions.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ArrayTransform]))),
        s"$q plans an interpreted ArrayTransform:\n$plan")
    }
  }

  test("agg_pareto_share, agg_gini, scan_warehouse_changes: no decimal sum " +
    "keeps a DECIMAL(28,2) buffer") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
    import org.apache.spark.sql.types.DecimalType
    for (q <- Seq("agg_pareto_share", "agg_gini", "scan_warehouse_changes")) {
      val plan = optimized(q)
      val wide = plan.collect { case p => p.expressions.flatMap(_.collect {
        case s: Sum if s.dataType == DecimalType(28, 2) => s
      }) }.flatten
      assert(wide.isEmpty, s"$q sums through DECIMAL(28,2):\n$plan")
    }
  }
}
