package graft

import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.plans.{GlobalRank, GlobalRankExec}

/** The native exact global ranking family: result-identical to the
  * single-partition window form on a total order, planned WITHOUT any
  * WindowExec or single-partition sort.
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
    "remainder and n<k edges") {
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
}
