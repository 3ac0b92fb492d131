package graft

import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.plans.{GlobalRank, GlobalRankRewrite, GlobalRankExec, GlobalShiftExec}

/** The native exact global row_number operator: result-identical to the
  * single-partition window form on a total order, planned WITHOUT any
  * WindowExec or single-partition sort, and (under the opt-in conf) the
  * optimizer rewrite swaps Window-form plans transparently.
  */
class GlobalRankSpec extends SparkSpec {

  private def events = Tables.read(spark, sf, "events")
    .select("event_id", "user_id", "value")

  test("native rank equals window row_number on a total order") {
    import org.apache.spark.sql.Row
    val want = events
      .withColumn("rk", row_number().over(
        Window.orderBy(col("value").desc, col("event_id"))).cast("long"))
      .orderBy("event_id").collect().toSeq
    val got = GlobalRank.withRowNumber(events, "rk",
      ("value", false), ("event_id", true))
      .orderBy("event_id").collect().toSeq
    assert(got.size === want.size)
    assert(got === want)
    // and the plan carries the native operator, no WindowExec anywhere
    // (AQE wraps the tree — inspect with it off, the PlanAudit discipline)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val phys = GlobalRank.withRowNumber(events, "rk", ("event_id", true))
        .queryExecution.executedPlan
      assert(phys.collectFirst { case e: GlobalRankExec => e }.nonEmpty)
      assert(phys.collectFirst { case w: WindowExec => w }.isEmpty)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // degenerate frames: empty input and a 1-row input both rank cleanly
    assert(GlobalRank.withRowNumber(events.filter(lit(false)), "rk",
      ("event_id", true)).collect().isEmpty)
    assert(GlobalRank.withRowNumber(events.limit(1), "rk",
      ("event_id", true)).select("rk").collect().toSeq === Seq(Row(1L)))
  }

  test("ranks are exact across partitions: dense 1..N, offsets correct") {
    val n = events.count()
    val ranked = GlobalRank.withRowNumber(events, "rk",
      ("value", true), ("event_id", true))
    val stats = ranked.agg(min("rk"), max("rk"),
      countDistinct("rk"), count(lit(1))).head()
    assert(stats.getLong(0) === 1L)
    assert(stats.getLong(1) === n)
    assert(stats.getLong(2) === n)
    // monotone: rank order agrees with the sort order pairwise
    val viol = ranked.select(col("rk"), col("value"), col("event_id"))
      .as("a").join(ranked.select(col("rk").as("rk2"),
        col("value").as("v2"), col("event_id").as("e2")).as("b"),
        col("rk") + 1 === col("rk2"))
      .filter(col("value") > col("v2") ||
        (col("value") === col("v2") && col("event_id") > col("e2")))
      .count()
    assert(viol === 0L)
  }

  test("opt-in rewrite: row_number window becomes the native operator") {
    def windowForm = events.withColumn("rk",
      row_number().over(Window.orderBy(col("value").desc, col("event_id"))))
    val off = windowForm.queryExecution.executedPlan
    assert(off.collectFirst { case e: GlobalRankExec => e }.isEmpty,
      "rule must be inert without the conf")
    spark.conf.set(GlobalRankRewrite.Key, "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val qe = windowForm.queryExecution
      assert(qe.executedPlan.collectFirst {
        case e: GlobalRankExec => e }.nonEmpty,
        qe.executedPlan.toString)
      assert(qe.executedPlan.collectFirst { case w: WindowExec => w }.isEmpty)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      // result-transparent: identical rows to the rule-off plan,
      // identical schema (row_number's IntegerType survives the rewrite)
      val on = windowForm.orderBy("event_id").collect().toSeq
      spark.conf.unset(GlobalRankRewrite.Key)
      val base = windowForm.orderBy("event_id").collect().toSeq
      assert(on === base)
    } finally {
      spark.conf.unset(GlobalRankRewrite.Key)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("rewrite leaves partitioned, aggregate, and mixed windows alone") {
    spark.conf.set(GlobalRankRewrite.Key, "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val partitioned = events.withColumn("rk", row_number().over(
        Window.partitionBy("user_id").orderBy("event_id")))
      assert(partitioned.queryExecution.executedPlan.collectFirst {
        case e: GlobalRankExec => e }.isEmpty)
      val agg = events.withColumn("s",
        sum(col("value")).over(Window.orderBy(col("event_id"))))
      assert(agg.queryExecution.executedPlan.collectFirst {
        case e: GlobalRankExec => e }.isEmpty,
        "aggregate windows keep their WindowExec")
      // malformed conf value: off, never a throw inside the optimizer
      spark.conf.set(GlobalRankRewrite.Key, "banana")
      val q = events.withColumn("rk", row_number().over(
        Window.orderBy(col("event_id"))))
      assert(q.queryExecution.executedPlan.collectFirst {
        case e: GlobalRankExec => e }.isEmpty)
      assert(q.count() > 0)
    } finally {
      spark.conf.unset(GlobalRankRewrite.Key)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("tie-aware modes: rank/dense_rank match the window form on " +
    "tie-heavy keys, including across partition boundaries") {
    // value rounded to 1 dp => massive tie groups; user_id (24 values at
    // sf0.001 over ~10k events) => tie runs far wider than a partition,
    // so boundary fixups are exercised for real
    val tieFrame = events.select(col("event_id"),
      round(col("value"), 1).as("v1"), col("user_id"))
    for ((keys, tag) <- Seq(
        (Seq(("v1", true)), "v1"),
        (Seq(("user_id", true)), "user_id"),
        (Seq(("user_id", true), ("v1", false)), "user_id,v1 desc"))) {
      val spec = keys.map { case (c, asc) =>
        if (asc) col(c).asc else col(c).desc
      } match { case s => Window.orderBy(s: _*) }
      val want = tieFrame
        .withColumn("rk", rank().over(spec).cast("long"))
        .withColumn("dk", dense_rank().over(spec).cast("long"))
        .orderBy("event_id").collect().toSeq
      val got = GlobalRank.withDenseRank(
          GlobalRank.withRank(tieFrame, "rk", keys: _*), "dk", keys: _*)
        .orderBy("event_id").collect().toSeq
      assert(got === want, s"mode mismatch on keys $tag")
    }
  }

  test("avg-rank-x2 equals the two-rank identity on tie-heavy keys, " +
    "including groups spanning partition boundaries") {
    val tieFrame = events.select(col("event_id"),
      round(col("value"), 1).as("v1"), col("user_id"))
    val n = tieFrame.count()
    for ((keys, tag) <- Seq(
        (Seq(("user_id", true)), "user_id (24 huge groups)"),
        (Seq(("v1", false)), "v1 desc"),
        (Seq(("event_id", true)), "unique key (degenerate ties)"))) {
      val spec = Window.orderBy(keys.map { case (c, asc) =>
        if (asc) col(c).asc else col(c).desc }: _*)
      // identity: 2·avgrank = rank_asc + (n+1) − rank_desc
      val specD = Window.orderBy(keys.map { case (c, asc) =>
        if (asc) col(c).desc else col(c).asc }: _*)
      val want = tieFrame
        .withColumn("ax", (rank().over(spec).cast("long") + lit(n) + 1L -
          rank().over(specD).cast("long")))
        .orderBy("event_id").select("event_id", "ax").collect().toSeq
      val got = GlobalRank.withAvgRankX2(tieFrame, "ax", keys: _*)
        .orderBy("event_id").select("event_id", "ax").collect().toSeq
      assert(got === want, s"avg-rank mismatch on $tag")
    }
  }

  test("ntile mode matches Spark's window ntile, including the uneven " +
    "remainder and n<k edges, and the rewrite covers bare ntile") {
    val o = events.select("event_id", "value")
    for (k <- Seq(7, 10, 32)) { // 10007-ish rows: remainder buckets real
      val want = o.withColumn("b", ntile(k).over(
          Window.orderBy(col("value").desc, col("event_id"))).cast("long"))
        .orderBy("event_id").select("event_id", "b").collect().toSeq
      val got = GlobalRank.withNTile(o, "b", k,
          ("value", false), ("event_id", true))
        .orderBy("event_id").select("event_id", "b").collect().toSeq
      assert(got === want, s"ntile($k) mismatch")
    }
    // n < k: every row its own bucket
    val tiny = o.limit(3)
    assert(GlobalRank.withNTile(tiny, "b", 10, ("event_id", true))
      .select("b").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 2L, 3L))
    // opt-in rewrite covers bare ntile windows
    spark.conf.set(GlobalRankRewrite.Key, "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = o.withColumn("b",
        ntile(5).over(Window.orderBy(col("event_id"))))
      assert(q.queryExecution.executedPlan.collectFirst {
        case e: GlobalRankExec => e }.nonEmpty)
      assert(q.queryExecution.executedPlan.collectFirst {
        case w: WindowExec => w }.isEmpty)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      val on = q.orderBy("event_id").collect().toSeq
      spark.conf.unset(GlobalRankRewrite.Key)
      val base = o.withColumn("b",
          ntile(5).over(Window.orderBy(col("event_id"))))
        .orderBy("event_id").collect().toSeq
      assert(on === base)
    } finally {
      spark.conf.unset(GlobalRankRewrite.Key)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("running sum equals the ROWS-frame window form on a total order") {
    val o = events.select(col("event_id"),
      expr("CAST(CAST(coalesce(value, 0.0) AS DECIMAL(18,6)) * 1000000 " +
        "AS BIGINT)").as("micros"))
    val w = Window.orderBy(col("micros").desc, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = o.withColumn("run", sum("micros").over(w))
      .orderBy("event_id").collect().toSeq
    val got = GlobalRank.withRunningSum(o, "run", "micros",
        ("micros", false), ("event_id", true))
      .orderBy("event_id").collect().toSeq
    assert(got === want)
    // and the plan is native: no WindowExec anywhere
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val phys = GlobalRank.withRunningSum(o, "run", "micros",
        ("event_id", true)).queryExecution.executedPlan
      assert(phys.collectFirst { case w: WindowExec => w }.isEmpty)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // the value column must be LONG, and the refusal names it
    val err = intercept[IllegalArgumentException] {
      GlobalRank.withRunningSum(o.withColumn("dbl", col("micros") / 2),
        "run", "dbl", ("event_id", true))
    }
    assert(err.getMessage.contains("for dbl"), err.getMessage)
    // a zero-row frame: the sum pass runs over no data, no rows come out
    assert(GlobalRank.withRunningSum(o.filter(lit(false)), "run", "micros",
      ("event_id", true)).collect().isEmpty)
  }

  test("percent_rank/cume_dist modes match the window form on tie-heavy " +
    "keys, including groups spanning partition boundaries") {
    val tieFrame = events.select(col("event_id"),
      round(col("value"), 1).as("v1"), col("user_id"))
    for ((keys, tag) <- Seq(
        (Seq(("user_id", true)), "user_id (24 huge groups)"),
        (Seq(("v1", false)), "v1 desc"),
        (Seq(("v1", true), ("user_id", false)), "v1, user_id desc"),
        (Seq(("event_id", true)), "unique key (degenerate ties)"))) {
      val spec = Window.orderBy(keys.map { case (c, asc) =>
        if (asc) col(c).asc else col(c).desc }: _*)
      val want = tieFrame
        .withColumn("pr", percent_rank().over(spec))
        .withColumn("cd", cume_dist().over(spec))
        .orderBy("event_id").select("event_id", "pr", "cd")
        .collect().toSeq
      val got = GlobalRank.withCumeDist(
          GlobalRank.withPercentRank(tieFrame, "pr", keys: _*),
          "cd", keys: _*)
        .orderBy("event_id").select("event_id", "pr", "cd")
        .collect().toSeq
      assert(got === want, s"distribution mismatch on $tag")
    }
    // N == 1 edge: percent_rank is 0.0, cume_dist is 1.0 (Spark-exact)
    val one = GlobalRank.withCumeDist(
      GlobalRank.withPercentRank(tieFrame.limit(1), "pr",
        ("event_id", true)), "cd", ("event_id", true)).head()
    assert(one.getAs[Double]("pr") === 0.0)
    assert(one.getAs[Double]("cd") === 1.0)
  }

  test("global lag/lead shift modes match the window form, including " +
    "offsets spanning partition boundaries and short partitions") {
    val o = events.select(col("event_id"), col("user_id"), col("value"))
    for (k <- Seq(1, 3, 7)) {
      val spec = Window.orderBy(col("value").desc, col("event_id"))
      val want = o
        .withColumn("lg", lag(col("event_id"), k).over(spec))
        .withColumn("ld", lead(col("event_id"), k).over(spec))
        .orderBy("event_id").select("event_id", "lg", "ld")
        .collect().toSeq
      val got = GlobalRank.withLead(
          GlobalRank.withLag(o, "lg", "event_id", k,
            ("value", false), ("event_id", true)),
          "ld", "event_id", k, ("value", false), ("event_id", true))
        .orderBy("event_id").select("event_id", "lg", "ld")
        .collect().toSeq
      assert(got === want, s"shift mismatch at offset $k")
    }
    // nullable value column: stored NULLs shift through as values
    val withNulls = o.withColumn("v2",
      when(col("value") > 0, col("value")))
    val spec = Window.orderBy(col("event_id"))
    val wantN = withNulls.withColumn("lg", lag(col("v2"), 2).over(spec))
      .orderBy("event_id").select("event_id", "lg").collect().toSeq
    val gotN = GlobalRank.withLag(withNulls, "lg", "v2", 2,
        ("event_id", true))
      .orderBy("event_id").select("event_id", "lg").collect().toSeq
    assert(gotN === wantN)
  }

  test("opt-in rewrite covers bare global lag/lead: rule-on ≡ rule-off, " +
    "native plan, and non-null defaults keep their WindowExec") {
    def windowForm = events.withColumn("lg",
        lag(col("value"), 2).over(Window.orderBy(col("event_id"))))
      .withColumn("ld",
        lead(col("user_id"), 1).over(Window.orderBy(col("event_id"))))
    spark.conf.unset(GlobalRankRewrite.Key)
    val base = windowForm.orderBy("event_id").collect().toSeq
    spark.conf.set(GlobalRankRewrite.Key, "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val qe = windowForm.queryExecution
      assert(qe.executedPlan.collect {
        case e: GlobalShiftExec => e }.size === 2,
        qe.executedPlan.toString)
      assert(qe.executedPlan.collectFirst { case w: WindowExec => w }.isEmpty)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      val on = windowForm.orderBy("event_id").collect().toSeq
      assert(on === base)
      // a non-null default is NOT bare lag — stays a WindowExec
      val withDefault = events.withColumn("lg",
        lag(col("value"), 2, 0.0).over(Window.orderBy(col("event_id"))))
      assert(withDefault.queryExecution.executedPlan.collectFirst {
        case e: GlobalShiftExec => e }.isEmpty)
    } finally {
      spark.conf.unset(GlobalRankRewrite.Key)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("opt-in rewrite covers percent_rank/cume_dist: rule-on ≡ rule-off " +
    "over tie-heavy fixtures, and the plan is native") {
    def windowForm = {
      val spec = Window.orderBy(round(col("value"), 1).asc,
        col("user_id").desc)
      events.withColumn("pr", percent_rank().over(spec))
        .withColumn("cd", cume_dist().over(spec))
    }
    spark.conf.unset(GlobalRankRewrite.Key)
    val base = windowForm.orderBy("event_id").collect().toSeq
    spark.conf.set(GlobalRankRewrite.Key, "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val qe = windowForm.queryExecution
      val execs = qe.executedPlan.collect { case e: GlobalRankExec => e }
      assert(execs.size === 2, qe.executedPlan.toString)
      assert(qe.executedPlan.collectFirst { case w: WindowExec => w }.isEmpty)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      val on = windowForm.orderBy("event_id").collect().toSeq
      assert(on === base)
    } finally {
      spark.conf.unset(GlobalRankRewrite.Key)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("opt-in rewrite covers rank/dense_rank: rule-on ≡ rule-off over " +
    "tie-heavy fixtures, and the plan is native") {
    def windowForm = {
      val spec = Window.orderBy(round(col("value"), 1).asc,
        col("user_id").desc)
      events.withColumn("rk", rank().over(spec))
        .withColumn("dk", dense_rank().over(spec))
        .withColumn("rn", row_number().over(
          Window.orderBy(col("value").desc, col("event_id"))))
    }
    spark.conf.unset(GlobalRankRewrite.Key)
    val base = windowForm.orderBy("event_id").collect().toSeq
    spark.conf.set(GlobalRankRewrite.Key, "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val qe = windowForm.queryExecution
      val execs = qe.executedPlan.collect { case e: GlobalRankExec => e }
      assert(execs.size === 3, qe.executedPlan.toString)
      assert(qe.executedPlan.collectFirst { case w: WindowExec => w }.isEmpty)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      val on = windowForm.orderBy("event_id").collect().toSeq
      assert(on === base)
    } finally {
      spark.conf.unset(GlobalRankRewrite.Key)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }
}
