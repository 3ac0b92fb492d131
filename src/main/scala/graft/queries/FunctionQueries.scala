package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.QueryDef.Sql
import graft.core.Tables

/** Scalar/window/join function surface breadth: lead/lag analytics, full
  * outer join, string/math/array function packs. Transcendental math is
  * rounded to 6 dp (JVM vs C libm may differ in the last ulp); array
  * results are emitted string-joined so engines' array physical types can
  * never skew the compare.
  */
object FunctionQueries {

  val all: Seq[QueryDef] = Seq(

    // distribution window functions: quartile assignment + rank fractions
    // (one sort shuffle per partition key; rounded to 6 dp for FP parity)
    QueryDef("window_distribution",
      (s, dir) => {
        val w = Window.partitionBy("o_orderstatus")
          .orderBy("o_totalprice", "o_orderkey")
        Tables.read(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            ntile(4).over(w).cast("long").as("quartile"),
            round(percent_rank().over(w), 6).as("pr"),
            round(cume_dist().over(w), 6).as("cd"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus,
             |CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             |round(percent_rank() OVER w, 6) AS pr,
             |round(cume_dist() OVER w, 6) AS cd
             |FROM orders
             |WINDOW w AS (PARTITION BY o_orderstatus
             |             ORDER BY o_totalprice, o_orderkey)
             |ORDER BY o_orderkey""".stripMargin)),

    // GLOBAL distribution functions (round-14): percent_rank + cume_dist
    // over the WHOLE table with no partition spec — the shape Spark plans
    // as ONE task sorting every row — through the native GlobalRank
    // operator's PercentRank/CumeDist modes (one range exchange + a
    // shuffle-read summary pass each; driver sees numPartitions
    // summaries, never data). Bands are exact integers so tie groups are
    // identical cross-engine, and tie groups span range partitions by
    // construction, exercising the boundary repairs; ties SHARE their
    // fraction, so every key's value is deterministic. Completes the
    // native family across every bare global ranking/distribution window
    // function Spark defines (round-13 verdict #4).
    QueryDef("window_distribution_global",
      (s, dir) => {
        val o = Tables.read(s, dir, "orders")
          .select(col("o_orderkey"),
            expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 " +
              "AS BIGINT) div 10000").as("price_band"))
        val pr = graft.plans.GlobalRank.withPercentRank(o, "pr0",
          ("price_band", true))
        graft.plans.GlobalRank.withCumeDist(pr, "cd0",
            ("price_band", true))
          .select(col("o_orderkey"), col("price_band"),
            round(col("pr0"), 6).as("pr"), round(col("cd0"), 6).as("cd"))
          .orderBy("o_orderkey")
      },
      Some("""WITH b AS (SELECT o_orderkey,
             |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             |      // 10000 AS price_band
             |  FROM orders)
             |SELECT o_orderkey, price_band,
             |  round(percent_rank() OVER (ORDER BY price_band), 6) AS pr,
             |  round(cume_dist() OVER (ORDER BY price_band), 6) AS cd
             |FROM b ORDER BY o_orderkey""".stripMargin)),

    // GLOBAL offset functions (round-14): lag/lead over the WHOLE event
    // stream in time order with no partition spec — the global
    // sessionize/delta shape Spark plans as ONE task — through the
    // native GlobalShift operator (one range exchange + a k-edge-value
    // summary pass; the map pass holds a k-deep ring buffer, memory
    // O(k) not O(partition)). Offset 3 forces multi-value boundary
    // stitching across range partitions. Exact LONG ids, total order,
    // NULL past the stream edges — deterministic cross-engine.
    QueryDef("window_global_shift",
      (s, dir) => {
        val e = Tables.read(s, dir, "events")
          .select(col("event_id"), col("ts"))
        val l1 = graft.plans.GlobalRank.withLag(e, "prev_event",
          "event_id", 1, ("ts", true), ("event_id", true))
        val l2 = graft.plans.GlobalRank.withLead(l1, "next_event",
          "event_id", 1, ("ts", true), ("event_id", true))
        graft.plans.GlobalRank.withLag(l2, "prev3_event",
            "event_id", 3, ("ts", true), ("event_id", true))
          .select("event_id", "prev_event", "next_event", "prev3_event")
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
             |  lag(event_id, 1) OVER w AS prev_event,
             |  lead(event_id, 1) OVER w AS next_event,
             |  lag(event_id, 3) OVER w AS prev3_event
             |FROM events
             |WINDOW w AS (ORDER BY ts, event_id)
             |ORDER BY event_id""".stripMargin)),

    // lead/lag/first/last over the event-time axis per user
    QueryDef("window_lead_lag",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val wAll = w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)
        Tables.read(s, dir, "events")
          .select(col("event_id"), col("user_id"),
            lag(col("event_id"), 1).over(w).as("prev_event"),
            lead(col("event_id"), 1).over(w).as("next_event"),
            first(col("event_id")).over(wAll).as("first_event"),
            last(col("event_id")).over(wAll).as("last_event"),
            sum(col("value").cast("decimal(18,6)"))
              .over(w.rowsBetween(Window.unboundedPreceding, 0))
              .cast("double").as("running_value"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |lag(event_id, 1) OVER w AS prev_event,
             |lead(event_id, 1) OVER w AS next_event,
             |first_value(event_id) OVER
             |  (PARTITION BY user_id ORDER BY ts, event_id
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_event,
             |last_value(event_id) OVER
             |  (PARTITION BY user_id ORDER BY ts, event_id
             |   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_event,
             |CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER
             |  (PARTITION BY user_id ORDER BY ts, event_id
             |   ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |ORDER BY event_id""".stripMargin)),

    // full outer join: nations vs the set of nations that actually have
    // suppliers — unmatched sides surface as nulls
    QueryDef("join_full_outer",
      (s, dir) => {
        val n = Tables.read(s, dir, "nation").select("n_nationkey", "n_name")
        val sup = Tables.read(s, dir, "supplier")
          .groupBy("s_nationkey").agg(count(lit(1)).as("n_suppliers"))
        n.join(sup, n("n_nationkey") === sup("s_nationkey"), "full_outer")
          .select(col("n_nationkey"), col("n_name"),
            coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
          .orderBy(asc_nulls_first("n_nationkey"))
      },
      Some("""SELECT n_nationkey, n_name, coalesce(n_suppliers, 0) AS n_suppliers
             |FROM nation n FULL OUTER JOIN
             |  (SELECT s_nationkey, count(*) AS n_suppliers
             |   FROM supplier GROUP BY s_nationkey) s
             |  ON n.n_nationkey = s.s_nationkey
             |ORDER BY n_nationkey NULLS FIRST""".stripMargin)),

    // string-function pack over part names
    QueryDef("fn_string_funcs",
      (s, dir) => Tables.read(s, dir, "part")
        .select(col("p_partkey"),
          upper(col("p_brand")).as("up"),
          lpad(col("p_brand"), 12, "*").as("padded"),
          reverse(col("p_type")).as("rev"),
          regexp_replace(col("p_type"), " ", "_").as("snake"),
          substring(col("p_name"), 1, 10).as("head10"),
          length(col("p_name")).cast("long").as("name_len"),
          levenshtein(col("p_brand"), lit("Brand#11")).cast("long").as("lev"),
          concat_ws("/", col("p_brand"), col("p_type")).as("joined"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, upper(p_brand) AS up,
             |lpad(p_brand, 12, '*') AS padded,
             |reverse(p_type) AS rev,
             |replace(p_type, ' ', '_') AS snake,
             |substr(p_name, 1, 10) AS head10,
             |CAST(length(p_name) AS BIGINT) AS name_len,
             |CAST(levenshtein(p_brand, 'Brand#11') AS BIGINT) AS lev,
             |p_brand || '/' || p_type AS joined
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // math-function pack (transcendentals rounded to 6 dp)
    QueryDef("fn_math_funcs",
      (s, dir) => Tables.read(s, dir, "events")
        .select(col("event_id"),
          sqrt(col("value")).as("sq"),
          round(log(col("value") + 1), 6).as("ln1p"),
          round(pow(col("value"), 1.5), 6).as("pow15"),
          abs(col("value") - 100).as("dist100"),
          ceil(col("value")).cast("long").as("cl"),
          floor(col("value")).cast("long").as("fl"),
          pmod(col("event_id"), lit(7)).cast("long").as("mod7"))
        .orderBy("event_id"),
      Some("""SELECT event_id, sqrt(value) AS sq,
             |round(ln(value + 1), 6) AS ln1p,
             |round(pow(value, 1.5), 6) AS pow15,
             |abs(value - 100) AS dist100,
             |CAST(ceil(value) AS BIGINT) AS cl,
             |CAST(floor(value) AS BIGINT) AS fl,
             |CAST(event_id % 7 AS BIGINT) AS mod7
             |FROM events ORDER BY event_id""".stripMargin)),

    // datetime-function pack
    QueryDef("fn_datetime_funcs",
      (s, dir) => Tables.read(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          date_format(date_add(to_date(col("l_shipdate")), 30), "yyyy-MM-dd")
            .as("plus30"),
          datediff(to_date(col("l_shipdate")), lit("1995-01-01").cast("date"))
            .cast("long").as("days_since_95"),
          date_format(trunc(to_date(col("l_shipdate")), "MM"), "yyyy-MM-dd")
            .as("month_start"),
          date_format(last_day(to_date(col("l_shipdate"))), "yyyy-MM-dd")
            .as("month_end"),
          quarter(col("l_shipdate")).cast("long").as("qtr"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |strftime(CAST(l_shipdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
             |CAST(date_diff('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS BIGINT) AS days_since_95,
             |strftime(date_trunc('month', l_shipdate), '%Y-%m-%d') AS month_start,
             |strftime(last_day(CAST(l_shipdate AS DATE)), '%Y-%m-%d') AS month_end,
             |CAST(quarter(l_shipdate) AS BIGINT) AS qtr
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // statistical aggregates from DECIMAL-exact moments — identical
    // double arithmetic in both engines, no streaming-variance drift
    QueryDef("agg_stats",
      (s, dir) => {
        val q = col("l_quantity")
        val p = col("l_extendedprice")
        Tables.read(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(q.cast("decimal(18,6)")).cast("double").as("sx"),
            sum((q * q).cast("decimal(20,6)")).cast("double").as("sxx"),
            sum(p.cast("decimal(20,6)")).cast("double").as("sy"),
            sum((p * p).cast("decimal(28,6)")).cast("double").as("syy"),
            sum((q * p).cast("decimal(24,6)")).cast("double").as("sxy"))
          .select(col("l_returnflag"), col("n"),
            round((col("sxx") - col("sx") * col("sx") / col("n")) /
              (col("n") - 1), 6).as("var_qty"),
            round(sqrt((col("sxx") - col("sx") * col("sx") / col("n")) /
              (col("n") - 1)), 6).as("stddev_qty"),
            round((col("n") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
              .as("corr_qty_price"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag, n,
             |round((sxx - sx * sx / n) / (n - 1), 6) AS var_qty,
             |round(sqrt((sxx - sx * sx / n) / (n - 1)), 6) AS stddev_qty,
             |round((n * sxy - sx * sy) /
             |      (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr_qty_price
             |FROM (
             |  SELECT l_returnflag, count(*) AS n,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sxx,
             |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) AS sy,
             |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS syy,
             |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(24,6))) AS DOUBLE) AS sxy
             |  FROM lineitem GROUP BY l_returnflag)
             |ORDER BY l_returnflag""".stripMargin)),

    // Exact per-group mode with a deterministic tiebreak: two-level agg —
    // count per (group, value), then max_by on a single encoded BIGINT
    // (count major, LOWEST value wins ties). Encoding instead of a struct
    // key because the oracle's arg_max only orders scalars; both shuffles
    // are map-side combinable.
    QueryDef("agg_mode",
      (s, dir) => {
        val counts = Tables.read(s, dir, "events")
          .groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("cnt"))
        counts.groupBy("event_type")
          .agg(max_by(col("user_id"),
            col("cnt") * 10000000L - col("user_id")).as("mode_user"),
            max(col("cnt")).as("mode_cnt"))
          .orderBy("event_type")
      },
      Some("""WITH c AS (SELECT event_type, user_id, count(*) AS cnt
             |  FROM events GROUP BY 1, 2)
             |SELECT event_type,
             |arg_max(user_id, cnt * 10000000 - user_id) AS mode_user,
             |max(cnt) AS mode_cnt
             |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Exact interpolated percentiles. l_quantity is integer-valued and the
    // quartile fractions are exact binary doubles, so Spark's percentile()
    // and DuckDB's quantile_cont() interpolate bit-identically — no
    // rounding slack needed (round(6) kept as belt-and-braces).
    QueryDef("agg_percentile",
      (s, dir) => Tables.read(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 6).as("p25"),
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.75)"), 6).as("p75"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |round(quantile_cont(l_quantity, 0.25), 6) AS p25,
             |round(quantile_cont(l_quantity, 0.5), 6) AS p50,
             |round(quantile_cont(l_quantity, 0.75), 6) AS p75
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // Quantile discretization (feature binning): quartile cuts from a
    // deterministic 5% hash-sample, broadcast back, per-row CASE
    // assignment, then the per-bucket rollup. ntile() would drag the
    // whole table through a single global-sort partition, and the exact
    // `percentile()` aggregate holds a value→count state map whose final
    // merge is one task sorting the whole (near-distinct-double) sample —
    // the r5 scaling study measured that map as the worst non-graph
    // scaler (exponent 0.57). The cuts now come from the agg_gini
    // DISTRIBUTED-RANK pattern instead: range-partition the sample on the
    // value, row_number within each partition in parallel, add broadcast
    // per-partition offsets, and keep only the ≤6 rows whose global rank
    // brackets a quartile position — the interpolation then runs over a
    // 6-row agg. Every stage partial-aggregates or sorts locally; no
    // single task ever holds the sample. The interpolation is
    // quantile_cont's: position h = q·(n−1), cut = (1−frac)·x_⌊h⌋ +
    // frac·x_⌊h⌋+1 (Spark `percentile`'s exact two-sided form, which
    // agg_percentile proves ≡ DuckDB quantile_cont on this data). The
    // oracle draws the SAME sample via the shared salted hash, so cut
    // values are identical in both engines and the <= comparisons can't
    // diverge.
    QueryDef("fn_quantile_bucket",
      (s, dir) => {
        val li = Tables.read(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_extendedprice")
        val sampled = li.filter(graft.ops.Sampling.hashBucket(
            concat_ws("#", col("l_orderkey"), col("l_linenumber")),
            "qcut") < 500)
          .select(col("l_extendedprice").as("x"),
            col("l_orderkey").as("k1"), col("l_linenumber").as("k2"))
        // Exact rank via the native global-rank operator (one range
        // exchange + a shuffle-read summary pass). n comes from one count
        // agg over the same sample (scan-pruned to the 3 key cols).
        val nrow = sampled.agg(count(lit(1)).as("n"))
        val ranked = graft.plans.GlobalRank.withRowNumber(sampled, "rnk",
          ("x", true), ("k1", true), ("k2", true))
        val qs = Seq(0.25 -> "1", 0.5 -> "2", 0.75 -> "3")
        val bracket = qs.flatMap { case (qv, i) => Seq(
          max(when(expr(s"rnk - 1 = floor(${qv}d * (n - 1))"),
            col("x"))).as(s"lo$i"),
          max(when(expr(s"rnk - 1 = floor(${qv}d * (n - 1)) + 1"),
            col("x"))).as(s"hi$i"))
        } :+ max("n").as("n")
        val cuts = ranked.crossJoin(broadcast(nrow))
          .filter(expr(
            """rnk - 1 IN (floor(0.25d * (n - 1)), floor(0.25d * (n - 1)) + 1,
              |           floor(0.5d  * (n - 1)), floor(0.5d  * (n - 1)) + 1,
              |           floor(0.75d * (n - 1)), floor(0.75d * (n - 1)) + 1)"""
              .stripMargin))
          .agg(bracket.head, bracket.tail: _*)
          .select(qs.map { case (qv, i) => expr(
            s"""(1.0d - (${qv}d * (n - 1) - floor(${qv}d * (n - 1))))
               |  * lo$i
               |+ (${qv}d * (n - 1) - floor(${qv}d * (n - 1)))
               |  * coalesce(hi$i, lo$i)""".stripMargin).as(s"c$i")
          }: _*)
        li.crossJoin(broadcast(cuts))
          .withColumn("bucket",
            when(col("l_extendedprice") <= col("c1"), 1L)
              .when(col("l_extendedprice") <= col("c2"), 2L)
              .when(col("l_extendedprice") <= col("c3"), 3L)
              .otherwise(4L))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            round(min("l_extendedprice"), 2).as("lo"),
            round(max("l_extendedprice"), 2).as("hi"))
          .orderBy("bucket")
      },
      Some(s"""WITH c AS (SELECT
             |    quantile_cont(l_extendedprice, 0.25) AS c1,
             |    quantile_cont(l_extendedprice, 0.5) AS c2,
             |    quantile_cont(l_extendedprice, 0.75) AS c3
             |  FROM lineitem
             |  WHERE ${Sql.hash64("'qcut|' || CAST(l_orderkey AS VARCHAR)" +
                  " || '#' || CAST(l_linenumber AS VARCHAR)")} % 10000 < 500)
             |SELECT CAST(CASE WHEN l_extendedprice <= c1 THEN 1
             |            WHEN l_extendedprice <= c2 THEN 2
             |            WHEN l_extendedprice <= c3 THEN 3
             |            ELSE 4 END AS BIGINT) AS bucket,
             |count(*) AS n, round(min(l_extendedprice), 2) AS lo,
             |round(max(l_extendedprice), 2) AS hi
             |FROM lineitem CROSS JOIN c
             |GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // Pareto / cumulative-share readout: the top-50 parts by revenue and
    // the running share of GLOBAL revenue they account for ("do 20% of
    // parts carry 80% of revenue"). Scale-right order: the per-part agg
    // partial-aggregates map-side, the top-50 is a distributed
    // TakeOrdered, and only then does the 50-row window run — the global
    // total rides in as a broadcast 1-row agg. Revenue in exact integer
    // cents; shares in fixed-point ppm (×1e6 on cents fits int64 to
    // ~9e12 in revenue — past that the multiply widens to DECIMAL).
    QueryDef("agg_pareto_share",
      (s, dir) => {
        val rev = Tables.read(s, dir, "lineitem")
          .groupBy("l_partkey")
          .agg((sum(col("l_extendedprice").cast("decimal(18,2)")) * 100)
            .cast("long").as("cents"))
        val tot = rev.agg(sum("cents").as("tot_cents"))
        val top = rev.orderBy(desc("cents"), col("l_partkey")).limit(50)
        val w = Window.orderBy(desc("cents"), col("l_partkey"))
          .rowsBetween(Window.unboundedPreceding, 0)
        top.crossJoin(broadcast(tot))
          .withColumn("rank", row_number().over(
            Window.orderBy(desc("cents"), col("l_partkey"))))
          .withColumn("cum_cents", sum("cents").over(w))
          .select(col("rank").cast("long").as("rank"), col("l_partkey"),
            col("cents"),
            expr("cum_cents * 1000000 div tot_cents").as("cum_share_ppm"))
          .orderBy("rank")
      },
      Some("""WITH rev AS (SELECT l_partkey,
             |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100
             |         AS BIGINT) AS cents
             |  FROM lineitem GROUP BY 1),
             |t AS (SELECT CAST(sum(cents) AS BIGINT) AS tot_cents FROM rev),
             |top AS (SELECT l_partkey, cents FROM rev
             |  ORDER BY cents DESC, l_partkey LIMIT 50)
             |SELECT CAST(row_number() OVER
             |    (ORDER BY cents DESC, l_partkey) AS BIGINT) AS rank,
             |  l_partkey, cents,
             |  CAST(CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT)
             |    * 1000000 // tot_cents AS BIGINT) AS cum_share_ppm
             |FROM top CROSS JOIN t
             |ORDER BY rank""".stripMargin)),

    // Gini coefficient of customer revenue concentration — the scalar
    // inequality twin of the Pareto readout: G = (2·Σ rank·x −
    // (n+1)·Σx) / (n·Σx) over customers ranked by revenue ascending.
    // The global rank is the native GlobalRank row_number (one range
    // exchange + a shuffle-read summary pass) — no single-partition
    // window at any cardinality. Rank-weighted sums run in
    // DECIMAL(38,0)/HUGEINT (rank·cents sums past int64 already at ~1e6
    // customers) with the truncating ppm division mirrored in both
    // engines.
    QueryDef("agg_gini",
      (s, dir) => {
        val rev = Tables.read(s, dir, "orders")
          .groupBy("o_custkey")
          .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long").as("cents"))
        val ranked = graft.plans.GlobalRank.withRowNumber(rev, "rnk",
          ("cents", true), ("o_custkey", true))
        ranked.agg(count(lit(1)).as("n"),
            sum("cents").cast("decimal(38,0)").as("t"),
            sum(col("rnk").cast("decimal(38,0)") * col("cents")).as("sr"))
          .select(col("n").as("n_customers"),
            col("t").cast("long").as("total_cents"),
            expr("""CAST((2 * sr - (n + 1) * t) * 1000000
                   | div (CAST(n AS DECIMAL(38,0)) * t) AS BIGINT)"""
              .stripMargin).as("gini_ppm"))
      },
      Some("""WITH rev AS (SELECT o_custkey,
             |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100
             |         AS BIGINT) AS cents
             |  FROM orders GROUP BY 1),
             |r AS (SELECT cents, row_number() OVER
             |    (ORDER BY cents, o_custkey) AS rnk FROM rev),
             |m AS (SELECT count(*) AS n, CAST(sum(cents) AS HUGEINT) AS t,
             |    sum(CAST(rnk AS HUGEINT) * cents) AS sr FROM r)
             |SELECT CAST(n AS BIGINT) AS n_customers,
             |  CAST(t AS BIGINT) AS total_cents,
             |  CAST((2 * sr - (n + 1) * t) * 1000000 // (n * t) AS BIGINT)
             |    AS gini_ppm
             |FROM m""".stripMargin)),

    // Pairwise Pearson correlations of the lineitem measures from ONE
    // pass of exact-DECIMAL moments (n, Σx, Σxy for all pairs): the
    // moments are order-independent decimal sums, and the final formula
    // runs in double IDENTICALLY in both engines (each moment cast once,
    // same operation sequence) — so the matrix is reproducible, unlike
    // corr() whose streaming covariance accumulates float error in
    // partition order. Never uses built-in corr.
    QueryDef("agg_corr_matrix",
      (s, dir) => {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
        val q6 = (c: String) => col(c).cast("decimal(18,6)")
        val sums = cols.map(c => sum(q6(c)).as(s"s_$c")) ++
          (for { a <- cols; b <- cols if a <= b }
            yield sum(q6(a) * q6(b)).as(s"p_${a}_$b"))
        val m = Tables.read(s, dir, "lineitem")
          .agg(count(lit(1)).as("n"), sums: _*)
        def corr(a: String, b: String) = {
          def d(c: org.apache.spark.sql.Column) = c.cast("double")
          val num = d(col("n")) * d(col(s"p_${a}_$b")) -
            d(col(s"s_$a")) * d(col(s"s_$b"))
          val va = d(col("n")) * d(col(s"p_${a}_$a")) -
            d(col(s"s_$a")) * d(col(s"s_$a"))
          val vb = d(col("n")) * d(col(s"p_${b}_$b")) -
            d(col(s"s_$b")) * d(col(s"s_$b"))
          round(num / (sqrt(va) * sqrt(vb)), 6)
        }
        m.select(col("n"),
          corr("l_discount", "l_extendedprice").as("corr_disc_price"),
          corr("l_discount", "l_quantity").as("corr_disc_qty"),
          corr("l_extendedprice", "l_quantity").as("corr_price_qty"))
      },
      Some {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
        val sums = cols.map(c =>
          s"sum(CAST($c AS DECIMAL(18,6))) AS s_$c") ++
          // DECIMAL(24,6) forces DuckDB's INT128 multiply path (a
          // DECIMAL(18) product overflows its INT64 fast path); the
          // values are exact either way, matching Spark's (18,6) sums
          (for { a <- cols; b <- cols if a <= b }
            yield s"sum(CAST($a AS DECIMAL(24,6)) * CAST($b AS DECIMAL(24,6))) AS p_${a}_$b")
        def corr(a: String, b: String) =
          s"""round((CAST(n AS DOUBLE) * CAST(p_${a}_$b AS DOUBLE)
             |  - CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE))
             | / (sqrt(CAST(n AS DOUBLE) * CAST(p_${a}_$a AS DOUBLE)
             |         - CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE))
             |    * sqrt(CAST(n AS DOUBLE) * CAST(p_${b}_$b AS DOUBLE)
             |           - CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE))), 6)""".stripMargin
        s"""WITH m AS (SELECT count(*) AS n, ${sums.mkString(",\n  ")}
           |  FROM lineitem)
           |SELECT n,
           |  ${corr("l_discount", "l_extendedprice")} AS corr_disc_price,
           |  ${corr("l_discount", "l_quantity")} AS corr_disc_qty,
           |  ${corr("l_extendedprice", "l_quantity")} AS corr_price_qty
           |FROM m""".stripMargin
      }),

    // Per-group z-score standardization (feature scaling): group moments
    // from exact DECIMAL sums broadcast back onto the scan, the per-row
    // transform in double computed by the same operation sequence in
    // both engines. The standard scaler, reproducible across
    // partitionings — corr_matrix's row-level sibling.
    QueryDef("fn_standardize",
      (s, dir) => {
        val li = Tables.read(s, dir, "lineitem")
        val stats = li.groupBy("l_returnflag").agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,6)")).as("sx"),
          sum(col("l_quantity").cast("decimal(18,6)") *
            col("l_quantity").cast("decimal(18,6)")).as("sxx"))
        def d(c: org.apache.spark.sql.Column) = c.cast("double")
        li.join(broadcast(stats), "l_returnflag")
          .withColumn("mean", d(col("sx")) / d(col("n")))
          .withColumn("std", sqrt(d(col("sxx")) / d(col("n")) -
            (d(col("sx")) / d(col("n"))) * (d(col("sx")) / d(col("n")))))
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
            round((col("l_quantity") - col("mean")) / col("std"), 6).as("z"))
          .orderBy("l_orderkey", "l_linenumber")
          .limit(500)
      },
      Some("""WITH stats AS (SELECT l_returnflag, count(*) AS n,
             |    sum(CAST(l_quantity AS DECIMAL(18,6))) AS sx,
             |    sum(CAST(l_quantity AS DECIMAL(24,6))
             |        * CAST(l_quantity AS DECIMAL(24,6))) AS sxx
             |  FROM lineitem GROUP BY 1)
             |SELECT l_orderkey, l_linenumber, l_returnflag,
             |  round((l_quantity - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             |    / sqrt(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
             |      - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
             |        * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))), 6) AS z
             |FROM lineitem JOIN stats USING (l_returnflag)
             |ORDER BY l_orderkey, l_linenumber LIMIT 500""".stripMargin)),

    // Winsorized mean (outlier-robust stats): clamp at the group's
    // p05/p95 before averaging. Per-group percentile agg (tiny — one row
    // per returnflag) broadcast back, map-side clamp, DECIMAL sum so the
    // clamped mean is partial-sum-order independent. The raw mean is
    // exact too: l_quantity is integral, so double partials can't drift.
    QueryDef("agg_winsorized",
      (s, dir) => {
        val li = Tables.read(s, dir, "lineitem")
          .select("l_returnflag", "l_quantity")
        val cuts = li.groupBy("l_returnflag").agg(
          expr("percentile(l_quantity, 0.05)").as("p05"),
          expr("percentile(l_quantity, 0.95)").as("p95"))
        li.join(broadcast(cuts), "l_returnflag")
          .withColumn("clamped",
            least(greatest(col("l_quantity"), col("p05")), col("p95"))
              .cast("decimal(12,6)"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            round(sum("clamped").cast("double") / count(lit(1)), 6)
              .as("winsorized_mean"),
            round(avg("l_quantity"), 6).as("raw_mean"))
          .orderBy("l_returnflag")
      },
      Some("""WITH c AS (SELECT l_returnflag,
             |    quantile_cont(l_quantity, 0.05) AS p05,
             |    quantile_cont(l_quantity, 0.95) AS p95
             |  FROM lineitem GROUP BY 1)
             |SELECT l_returnflag, count(*) AS n,
             |round(CAST(sum(CAST(least(greatest(l_quantity, p05), p95)
             |  AS DECIMAL(12,6))) AS DOUBLE) / count(*), 6)
             |  AS winsorized_mean,
             |round(avg(l_quantity), 6) AS raw_mean
             |FROM lineitem JOIN c USING (l_returnflag)
             |GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    // array-function pack over tokenized text (string-joined outputs)
    QueryDef("fn_array_funcs",
      (s, dir) => graft.ops.TextOps.withTokens(Tables.read(s, dir, "documents"))
        .select(col("doc_id"),
          array_join(slice(col("t"), 1, 5), ",").as("head5"),
          array_join(sort_array(slice(col("t"), 1, 5)), ",").as("head5_sorted"),
          array_contains(col("t"), "spark").as("has_spark"),
          size(array_distinct(col("t"))).cast("long").as("n_unique"),
          array_join(array_remove(slice(col("t"), 1, 8), "the"), ",")
            .as("head8_nothe"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |array_to_string(t[1:5], ',') AS head5,
             |array_to_string(list_sort(t[1:5]), ',') AS head5_sorted,
             |list_contains(t, 'spark') AS has_spark,
             |CAST(len(list_distinct(t)) AS BIGINT) AS n_unique,
             |array_to_string(list_filter(t[1:8], x -> x <> 'the'), ',') AS head8_nothe
             |FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
             |      FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // URL decomposition — the web-crawl curation primitive (domain mix,
    // per-host dedup, query-param stripping all start here). Spark's
    // parse_url is a codegen'd built-in; the URLs are built
    // deterministically from table columns so the demo needs no fixture.
    // DuckDB lacks parse_url, so the oracle mirrors with anchored
    // regexp_extract — same component grammar.
    QueryDef("fn_url_parse",
      (s, dir) => {
        val url = concat(lit("https://"), col("source"),
          lit(".example.com/docs/"), col("doc_id").cast("string"),
          lit("?lang="), col("lang"), lit("&sz="), col("n_chars").cast("string"))
        Tables.read(s, dir, "documents")
          .select(col("doc_id"), url.as("url"))
          .select(col("doc_id"),
            parse_url(col("url"), lit("HOST")).as("host"),
            parse_url(col("url"), lit("PATH")).as("path"),
            parse_url(col("url"), lit("QUERY"), lit("lang")).as("q_lang"),
            parse_url(col("url"), lit("QUERY"), lit("sz")).as("q_sz"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |regexp_extract(url, '^https://([^/?#]+)', 1) AS host,
             |regexp_extract(url, '^https://[^/?#]+([^?#]*)', 1) AS path,
             |regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS q_lang,
             |regexp_extract(url, '[?&]sz=([^&#]*)', 1) AS q_sz
             |FROM (SELECT doc_id,
             |  'https://' || source || '.example.com/docs/' ||
             |  CAST(doc_id AS VARCHAR) || '?lang=' || lang || '&sz=' ||
             |  CAST(n_chars AS VARCHAR) AS url FROM documents)
             |ORDER BY doc_id""".stripMargin))
  )
}
