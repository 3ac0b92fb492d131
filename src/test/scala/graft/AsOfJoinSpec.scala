package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.plans.{AsOf, AsOfJoinExec}

/** The native as-of join (custom LogicalPlan + Strategy + SparkPlan) must
  * agree bit-for-bit with the composed window form, plan as one
  * co-partitioned sort-merge, and carry payload columns the window form
  * cannot.
  */
class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  test("native as-of join equals the composed window form on real data") {
    val native = SparkEntry.queries("join_asof_native")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val composed = SparkEntry.queries("join_asof")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(native.nonEmpty)
    assert(native === composed)
  }

  test("plan: AsOfJoinExec with one exchange+sort per side; payload carried; misses are null") {
    val left = Seq((1L, 100L, "a"), (1L, 200L, "b"), (2L, 50L, "c"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 90L, "p90"), (1L, 150L, "p150"), (3L, 10L, "x"))
      .toDF("k", "t", "note")
    // AQE off for the plan-shape assertions: its query-stage wrappers are
    // leaves that hide the subtree from collect()
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (joined, finalPlan) =
      try {
        val j = AsOf.asofJoin(left, right, "k", "t", "t", Seq("note", "t"))
        (j, j.queryExecution.executedPlan) // materialized while AQE is off
      } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    assert(finalPlan.collect { case e: AsOfJoinExec => e }.size === 1)
    assert(finalPlan.collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => s
    }.size === 2)

    val rows = joined.orderBy("k", "t")
      .select(col("k"), col("t"), col("note__r"), col("t__r"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2)).getOrElse("-"),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(rows.toSeq === Seq(
      (1L, 100L, "p90", 90L),   // latest right at/before t=100
      (1L, 200L, "p150", 150L), // advances to p150
      (2L, 50L, "-", -1L)))     // no right rows for k=2 -> null payload
  }

  test("nulls: NULL keys/times never match (SQL equi-join semantics, not null==null)") {
    // left: a null-key row and a null-time row alongside a normal one;
    // right: a null-key row and a null-time row that would sort FIRST
    // (nulls-first ascending) and, under natural-ordering comparison,
    // would wrongly donate their payload to null-key left rows
    val left = Seq(
      (None: Option[Long], Some(100L), "lnullk"),
      (Some(1L), None: Option[Long], "lnullt"),
      (Some(1L), Some(100L), "lok"))
      .toDF("k", "t", "tag")
    val right = Seq(
      (None: Option[Long], Some(50L), "rnullk"),
      (Some(1L), None: Option[Long], "rnullt"),
      (Some(1L), Some(90L), "rok"))
      .toDF("k", "t", "note")
    val rows = AsOf.asofJoin(left, right, "k", "t", "t", Seq("note"))
      .select("tag", "note__r").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(rows === Map(
      "lnullk" -> None,       // null left key: matches nothing
      "lnullt" -> None,       // null left time: <= comparison is NULL
      "lok" -> Some("rok")))  // normal row: unaffected, skips null right rows
  }

  test("ties: a right row at exactly the left time is matched (ASOF <= semantics)") {
    val left = Seq((1L, 100L)).toDF("k", "t")
    val right = Seq((1L, 100L, "exact")).toDF("k", "t", "note")
    val r = AsOf.asofJoin(left, right, "k", "t", "t", Seq("note"))
      .select("note__r").collect().head
    assert(r.getString(0) === "exact")
  }
}

/** Interval-overlap join semantics on a hand-built frame: true overlaps
  * found with correct lengths, half-open touching endpoints excluded,
  * users never cross.
  */
class IntervalOverlapSpec extends SparkSpec {
  import spark.implicits._

  test("overlap join: lengths exact, touching endpoints excluded, " +
    "users never cross") {
    // user 1: view [00:00, 00:02) (value 120 s), purchase [00:01, 00:03)
    //   → overlap 60 s; purchase2 at [00:02, 00:04) TOUCHES the view's
    //   end — half-open ⇒ NOT a pair
    // user 2: purchase [00:01, 00:02) overlaps nothing of user 1
    val ev = Seq(
      (1L, 1L, "view", "2024-01-01 00:00:00", 120.0),
      (1L, 2L, "purchase", "2024-01-01 00:01:00", 120.0),
      (1L, 3L, "purchase", "2024-01-01 00:02:00", 120.0),
      (2L, 4L, "purchase", "2024-01-01 00:01:00", 60.0)
    ).toDF("user_id", "event_id", "event_type", "ts_s", "value")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    // drive the declared query's exact shape on the fixture via a temp
    // parquet dir so the (SparkSession, dir) contract stays the code
    // under test
    val dir = scratch("ivjoin_fixture")
    ev.select("user_id", "event_id", "event_type", "ts", "value")
      .write.parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("join_interval_overlap")(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 1L, 2L, 60000000L)))
  }
}
