package graft.queries

import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.{Artifacts, Tables}

/** TPC-H-shaped flagship analytics (SURVEY §5.5: the driver testdata is
  * TPC-H-ish, so the flagship queries adopt TPC-H shapes). Sums/averages
  * route through DECIMAL for order-independence; doubles only at the edge.
  */
object TpchQueries {

  /** Once-per-(session, dir) bucketed-layout fixture for `join_bucketed`.
    *
    * The bucketBy(8)+sortBy layout is the amortize-across-queries design
    * for repeatedly joined 100 TB facts: pay the shuffle once at write
    * time, then every join/agg on the bucket key runs exchange-free. The
    * declared query must therefore time the READ path, not the layout
    * build — this fixture writes each table at most once per directory:
    *   - table already in the session catalog → no-op;
    *   - layout already on disk (prior JVM) → register the external
    *     bucketed table via DDL, zero data movement;
    *   - otherwise → one bucketed write.
    * Registration is metadata-only, so declared queries no longer mutate
    * data as a side effect after the first build.
    */
  private def ensureBucketed(s: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = {
    val sfx = Artifacts.dirTag(dir)
    def ensure(name: String, key: String,
        build: => org.apache.spark.sql.DataFrame): String = {
      val tbl = s"graft_${name}_$sfx"
      val path = s"/tmp/graft_bucketed_${name}_$sfx"
      if (!s.catalog.tableExists(tbl)) {
        if (new java.io.File(path, "_SUCCESS").exists()) {
          s.sql(s"""CREATE TABLE $tbl (${build.schema.toDDL})
                   |USING parquet
                   |CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
                   |LOCATION '$path'""".stripMargin)
        } else {
          build.write.mode("overwrite").option("path", path)
            .bucketBy(8, key).sortBy(key)
            .format("parquet").saveAsTable(tbl)
        }
      }
      tbl
    }
    (ensure("orders", "o_orderkey",
        Tables.read(s, dir, "orders").select("o_orderkey", "o_totalprice")),
      ensure("lineitem", "l_orderkey",
        Tables.read(s, dir, "lineitem").select("l_orderkey", "l_quantity")))
  }

  val all: Seq[QueryDef] = Seq(

    // Q1 pricing summary: the canonical scan-heavy aggregation.
    // Numeric-convention history (the round-7 lesson, kept as the lint's
    // type case — see OracleLintSpec "no DECIMAL output columns"):
    //  - r1-r6 form (THIS form): money sums accumulate in DECIMAL(18,6)
    //    (order-independent, value-exact for 2-dp inputs) and surface as
    //    DOUBLE. Driver-green at sf0.01 for six consecutive rounds; at
    //    sf1 sum_charge·10⁶ exceeds 2⁵³ so the decimal→double
    //    presentation cast rounds, and Spark's correctly-rounded
    //    BigDecimal→double can differ from DuckDB's by ONE ulp — a
    //    documented presentation NEAR one decade above the gate.
    //  - r7 experiment: surfacing the sums as DECIMAL(38,s) erased the
    //    sf1 ulp but turned the DRIVER row red at sf0.01 (hash mismatch
    //    with rows+schema matching) while the same dump passed the local
    //    DuckDB 1.0.0 gate — decimal OUTPUT columns hash through each
    //    engine's decimal canonicalization/version conventions, which no
    //    amount of value-exactness controls from here.
    //  - r8: reverted to the six-round driver-green DOUBLE-out form and
    //    carry the sf1 NEAR honestly (CORRECTNESS_SF1.md). A NEAR one
    //    decade above the gate beats a FAIL at the gate; the invariant
    //    "no DECIMAL-typed declared output column" is now lint-enforced
    //    across all declared queries.
    //  - r11 (round-8 item 3's third option): the three 6-dp money sums
    //    are ROUNDED TO 2 dp IN DECIMAL SPACE before the double cast
    //    (HALF_UP in both engines; the inputs are positive). A 2-dp
    //    decimal's scaled integer stays below 2^53 until the sum passes
    //    ~9e13 (≈ sf 40,000 here), so the presentation cast is EXACT —
    //    bit-identical across engines — at every gated decade; the sf1
    //    ulp NEAR is gone by construction, not by luck. avg_price
    //    divides the exactly-cast rounded sum (double ÷ long is
    //    correctly rounded from identical operands in both engines);
    //    output types stay DOUBLE, so the r7 decimal-canonicalization
    //    hazard never re-enters.
    QueryDef("tpch_q1",
      (s, dir) => Tables.read(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(12,2)")).cast("double")
            .as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(18,6)")), 2)
            .cast("double").as("sum_base_price"),
          round(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)")), 2).cast("double").as("sum_disc_price"),
          round(sum(((col("l_extendedprice") * (lit(1) - col("l_discount"))) *
            (lit(1) + col("l_tax"))).cast("decimal(18,6)")), 2)
            .cast("double").as("sum_charge"),
          (sum(col("l_quantity").cast("decimal(12,2)")).cast("double") /
            count(lit(1))).as("avg_qty"),
          (round(sum(col("l_extendedprice").cast("decimal(18,6)")), 2)
            .cast("double") / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
             |CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
             |CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_disc_price,
             |CAST(ROUND(SUM(CAST((l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_charge,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
             |CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) / count(*) AS avg_price,
             |count(*) AS count_order
             |FROM lineitem
             |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // Q3 shipping-priority: selective join + agg + top-k revenue
    QueryDef("tpch_q3",
      (s, dir) => {
        val c = Tables.read(s, dir, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.read(s, dir, "orders")
          .filter(col("o_orderdate") < lit("1997-03-15 00:00:00").cast("timestamp"))
        val l = Tables.read(s, dir, "lineitem")
          .filter(col("l_shipdate") > lit("1997-03-15 00:00:00").cast("timestamp"))
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .groupBy(col("l_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
            col("o_orderpriority"))
          .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").as("revenue"))
          .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey,
             |CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             |strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
             |FROM customer c
             |JOIN orders o ON o.o_custkey = c.c_custkey
             |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
             |WHERE c.c_mktsegment = 'BUILDING'
             |  AND o.o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
             |  AND l.l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
             |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
             |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),

    // Q5 local-supplier volume: the canonical multi-join star — six tables,
    // two selective filters, small dims broadcast, one agg shuffle on n_name
    QueryDef("tpch_q5",
      (s, dir) => {
        val c = Tables.read(s, dir, "customer")
        val o = Tables.read(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
        val l = Tables.read(s, dir, "lineitem")
        val su = Tables.read(s, dir, "supplier")
        val n = Tables.read(s, dir, "nation")
        val r = Tables.read(s, dir, "region").filter(col("r_name") === "ASIA")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(su, l("l_suppkey") === su("s_suppkey") &&
            c("c_nationkey") === su("s_nationkey"))
          .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy("n_name")
          .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("""SELECT n_name,
             |CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
             |FROM customer c
             |JOIN orders o ON o.o_custkey = c.c_custkey
             |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
             |JOIN supplier s ON l.l_suppkey = s.s_suppkey
             |  AND c.c_nationkey = s.s_nationkey
             |JOIN nation n ON s.s_nationkey = n.n_nationkey
             |JOIN region r ON n.n_regionkey = r.r_regionkey
             |WHERE r.r_name = 'ASIA'
             |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
             |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin)),

    // Q18 large-volume customers: big groupBy + HAVING semi-join back into
    // the fact — the heavy hash-agg plan class
    QueryDef("tpch_q18",
      (s, dir) => {
        val l = Tables.read(s, dir, "lineitem")
        val big = l.groupBy("l_orderkey")
          .agg(sum(col("l_quantity").cast("decimal(12,2)")).as("q"))
          .filter(col("q") > 250)
          .select(col("l_orderkey").as("big_orderkey"))
        val o = Tables.read(s, dir, "orders")
        val c = Tables.read(s, dir, "customer")
        l.join(big, l("l_orderkey") === big("big_orderkey"))
          .join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
            col("o_totalprice"))
          .agg(sum(col("l_quantity").cast("decimal(12,2)")).cast("double")
            .as("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100)
      },
      Some("""SELECT c_name, c_custkey, o_orderkey,
             |strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_totalprice,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
             |FROM customer c
             |JOIN orders o ON o.o_custkey = c.c_custkey
             |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
             |WHERE o_orderkey IN (
             |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
             |  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250)
             |GROUP BY c_name, c_custkey, o_orderkey,
             |  strftime(o_orderdate, '%Y-%m-%d'), o_totalprice
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    // Q7 volume-shipping shape: 6-way join with a DISJUNCTIVE cross-nation
    // predicate — the join-filter class the optimizer cannot push into
    // either scan alone; both nation dims broadcast, the fact pipeline
    // stays map-side until the final 3-key aggregate.
    QueryDef("tpch_q7",
      (s, dir) => {
        val l = Tables.read(s, dir, "lineitem")
          .filter(col("l_shipdate").between(
            lit("1995-01-01 00:00:00").cast("timestamp"),
            lit("1996-12-31 23:59:59").cast("timestamp")))
        val sup = Tables.read(s, dir, "supplier")
          .select("s_suppkey", "s_nationkey")
        val o = Tables.read(s, dir, "orders").select("o_orderkey", "o_custkey")
        val c = Tables.read(s, dir, "customer")
          .select("c_custkey", "c_nationkey")
        val n1 = Tables.read(s, dir, "nation")
          .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
        val n2 = Tables.read(s, dir, "nation")
          .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
        l.join(sup, l("l_suppkey") === sup("s_suppkey"))
          .join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
          .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
          .filter((col("supp_nation") === "NATION_9" && col("cust_nation") === "NATION_10") ||
            (col("supp_nation") === "NATION_10" && col("cust_nation") === "NATION_9"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("long").as("l_year"))
          .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some("""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             |CAST(year(l_shipdate) AS BIGINT) AS l_year,
             |CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN supplier ON s_suppkey = l_suppkey
             |JOIN orders ON o_orderkey = l_orderkey
             |JOIN customer ON c_custkey = o_custkey
             |JOIN nation n1 ON s_nationkey = n1.n_nationkey
             |JOIN nation n2 ON c_nationkey = n2.n_nationkey
             |WHERE ((n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_10')
             |    OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_9'))
             |  AND l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
             |                     AND TIMESTAMP '1996-12-31 23:59:59'
             |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // Q10 returned-item shape: selective quarter + returnflag filter, 4-way
    // join, revenue top-20 -> TakeOrderedAndProject (never a global sort)
    QueryDef("tpch_q10",
      (s, dir) => {
        val o = Tables.read(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1995-10-01 00:00:00").cast("timestamp") &&
            col("o_orderdate") < lit("1996-01-01 00:00:00").cast("timestamp"))
          .select("o_orderkey", "o_custkey")
        val l = Tables.read(s, dir, "lineitem")
          .filter(col("l_returnflag") === "R")
        val c = Tables.read(s, dir, "customer")
          .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
        val n = Tables.read(s, dir, "nation").select("n_nationkey", "n_name")
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("c_custkey"), col("c_name"),
            col("c_acctbal").cast("double").as("c_acctbal"), col("n_name"))
          .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").as("revenue"))
          .orderBy(desc("revenue"), col("c_custkey"))
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal,
             |n_name,
             |CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |WHERE o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
             |  AND l_returnflag = 'R'
             |GROUP BY 1, 2, 3, 4
             |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    // Q2 shape (minimum-cost supplier): the testdata has no partsupp table,
    // so the (part, supplier, cost) relation is derived from lineitem —
    // min unit price per (l_partkey, l_suppkey). The correlated
    // "= (SELECT min(cost) ...)" of real Q2 is planned here as it should
    // be at scale: one grouped min per partkey joined back on equality,
    // never a per-row subquery. Dims (supplier/nation/region) broadcast.
    // The p_size predicate SEMI-JOINS into lineitem BEFORE the grouped
    // min (safe: the min is per partkey, so dropping whole partkeys early
    // changes nothing) — the fact agg runs on ~1/50th of the fact instead
    // of costing every part and discarding 49/50ths at the end. Unhinted,
    // so Catalyst broadcasts the key list at small SF and AQE picks a
    // shuffle semi-join once the filtered part list outgrows broadcast.
    QueryDef("tpch_q2",
      (s, dir) => {
        val szKeys = Tables.read(s, dir, "part")
          .filter(col("p_size") === 15).select(col("p_partkey"))
        val ps = Tables.read(s, dir, "lineitem")
          .join(szKeys, col("l_partkey") === col("p_partkey"), "left_semi")
          .groupBy(col("l_partkey").as("ps_partkey"),
            col("l_suppkey").as("ps_suppkey"))
          .agg(min(col("l_extendedprice") / col("l_quantity")).as("ps_cost"))
        val sup = Tables.read(s, dir, "supplier")
        val nat = Tables.read(s, dir, "nation")
        val reg = Tables.read(s, dir, "region").filter(col("r_name") === "EUROPE")
        val eu = ps
          .join(broadcast(sup), col("s_suppkey") === col("ps_suppkey"))
          .join(broadcast(nat), col("n_nationkey") === col("s_nationkey"))
          .join(broadcast(reg), col("r_regionkey") === col("n_regionkey"))
          .select("ps_partkey", "ps_suppkey", "ps_cost",
            "s_acctbal", "s_name", "n_name")
        val mn = eu.groupBy(col("ps_partkey").as("mn_partkey"))
          .agg(min(col("ps_cost")).as("min_cost"))
        val p = Tables.read(s, dir, "part").filter(col("p_size") === 15)
        eu.join(mn, col("ps_partkey") === col("mn_partkey") &&
            col("ps_cost") === col("min_cost"))
          .join(p, col("p_partkey") === col("ps_partkey"))
          .select(col("s_acctbal").cast("double").as("s_acctbal"),
            col("s_name"), col("n_name"), col("p_partkey"), col("p_name"),
            col("ps_cost"))
          .orderBy(desc("s_acctbal"), col("n_name"), col("s_name"),
            col("p_partkey"))
          .limit(100)
      },
      Some("""WITH partsupp AS (
             |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             |    min(l_extendedprice / l_quantity) AS ps_cost
             |  FROM lineitem GROUP BY 1, 2),
             |eu AS (
             |  SELECT ps_partkey, ps_suppkey, ps_cost, s_acctbal, s_name, n_name
             |  FROM partsupp
             |  JOIN supplier ON s_suppkey = ps_suppkey
             |  JOIN nation ON n_nationkey = s_nationkey
             |  JOIN region ON r_regionkey = n_regionkey
             |  WHERE r_name = 'EUROPE'),
             |mn AS (SELECT ps_partkey, min(ps_cost) AS min_cost
             |  FROM eu GROUP BY 1)
             |SELECT CAST(s_acctbal AS DOUBLE) AS s_acctbal, s_name, n_name,
             |p_partkey, p_name, ps_cost
             |FROM eu
             |JOIN mn ON eu.ps_partkey = mn.ps_partkey AND eu.ps_cost = mn.min_cost
             |JOIN part ON p_partkey = eu.ps_partkey
             |WHERE p_size = 15
             |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
             |LIMIT 100""".stripMargin)),

    // Q21 shape (suppliers who kept orders waiting): no
    // l_receiptdate/l_commitdate in the testdata, so "late" =
    // shipped > 60 days after the order date. The EXISTS / NOT EXISTS
    // pair plans as left-semi + left-anti joins on l_orderkey — the two
    // shuffle shapes real Q21 stresses; lineitem∞orders joins once and
    // the semi/anti sides reuse the derived frame.
    QueryDef("tpch_q21",
      (s, dir) => {
        val l = Tables.read(s, dir, "lineitem")
          .join(Tables.read(s, dir, "orders")
              .filter(col("o_orderstatus") === "F")
              .select("o_orderkey", "o_orderdate"),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("l_orderkey"), col("l_suppkey"),
            (col("l_shipdate") > col("o_orderdate") + expr("interval 60 days"))
              .as("late"))
        val l1 = l.filter(col("late"))
        val l2 = l.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
        val l3 = l1.select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
        val waiting = l1
          .join(l2, col("l_orderkey") === col("o2") &&
            col("l_suppkey") =!= col("s2"), "left_semi")
          .join(l3, col("l_orderkey") === col("o3") &&
            col("l_suppkey") =!= col("s3"), "left_anti")
        waiting
          .join(broadcast(Tables.read(s, dir, "supplier")),
            col("s_suppkey") === col("l_suppkey"))
          .groupBy("s_name")
          .agg(count(lit(1)).as("numwait"))
          .orderBy(desc("numwait"), col("s_name"))
          .limit(100)
      },
      Some("""WITH l AS (
             |  SELECT l_orderkey, l_suppkey,
             |    l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
             |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
             |  WHERE o_orderstatus = 'F')
             |SELECT s_name, count(*) AS numwait
             |FROM l l1 JOIN supplier ON s_suppkey = l1.l_suppkey
             |WHERE l1.late
             |AND EXISTS (SELECT 1 FROM l l2 WHERE l2.l_orderkey = l1.l_orderkey
             |  AND l2.l_suppkey <> l1.l_suppkey)
             |AND NOT EXISTS (SELECT 1 FROM l l3 WHERE l3.l_orderkey = l1.l_orderkey
             |  AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
             |GROUP BY s_name
             |ORDER BY numwait DESC, s_name
             |LIMIT 100""".stripMargin)),

    // Q9 shape (product-type profit): 5-way join with a computed measure
    // (revenue minus a cost term) aggregated by nation × year. No partsupp
    // in the testdata, so cost = p_retailprice × 0.5 × quantity. The
    // selective p_name filter lands on the part scan; nation broadcasts;
    // one agg shuffle on (nation, year).
    QueryDef("tpch_q9",
      (s, dir) => {
        val p = Tables.read(s, dir, "part")
          .filter(col("p_name").contains("widget"))
          .select("p_partkey", "p_retailprice")
        val sup = Tables.read(s, dir, "supplier")
          .select("s_suppkey", "s_nationkey")
        val o = Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_orderdate")
        val n = Tables.read(s, dir, "nation")
          .select("n_nationkey", "n_name")
        Tables.read(s, dir, "lineitem")
          .join(p, col("l_partkey") === col("p_partkey"))
          .join(sup, col("l_suppkey") === col("s_suppkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name").as("nation"),
            year(col("o_orderdate")).cast("long").as("o_year"))
          .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")) -
            col("p_retailprice") * lit(0.5) * col("l_quantity"))
            .cast("decimal(18,6)")).cast("double").as("sum_profit"))
          .orderBy(col("nation"), col("o_year").desc)
      },
      Some("""SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
             |CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
             |  - p_retailprice * 0.5 * l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
             |FROM lineitem
             |JOIN part ON p_partkey = l_partkey
             |JOIN supplier ON s_suppkey = l_suppkey
             |JOIN orders ON o_orderkey = l_orderkey
             |JOIN nation ON n_nationkey = s_nationkey
             |WHERE p_name LIKE '%widget%'
             |GROUP BY 1, 2
             |ORDER BY nation, o_year DESC""".stripMargin)),

    // Q13 shape (customer order-count distribution): LEFT OUTER join that
    // must keep zero-order customers, then a two-level aggregate — count
    // per customer, then distribution over counts. The ON-clause filter is
    // applied to the orders side BEFORE the outer join (equivalent, and it
    // shrinks the shuffle).
    QueryDef("tpch_q13",
      (s, dir) => {
        val c = Tables.read(s, dir, "customer").select("c_custkey")
        val o = Tables.read(s, dir, "orders")
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .select("o_orderkey", "o_custkey")
        c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy("c_custkey")
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy("c_count")
          .agg(count(lit(1)).as("custdist"))
          .orderBy(desc("custdist"), desc("c_count"))
      },
      Some("""SELECT c_count, count(*) AS custdist
             |FROM (
             |  SELECT c_custkey, count(o_orderkey) AS c_count
             |  FROM customer
             |  LEFT OUTER JOIN (
             |    SELECT o_orderkey, o_custkey FROM orders
             |    WHERE o_orderpriority <> '1-URGENT') o
             |    ON c_custkey = o_custkey
             |  GROUP BY c_custkey)
             |GROUP BY c_count
             |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // Q17 shape (small-quantity revenue): the correlated
    // "l_quantity < 0.2 * (SELECT avg(...) WHERE same part)" decorrelated
    // the way Catalyst would — one grouped threshold per part joined back,
    // never a per-row subquery. The brand filter broadcasts into both the
    // threshold build and the probe.
    QueryDef("tpch_q17",
      (s, dir) => {
        val pk = Tables.read(s, dir, "part")
          .filter(col("p_brand") === "Brand#13").select("p_partkey")
        val l = Tables.read(s, dir, "lineitem")
          .select("l_partkey", "l_quantity", "l_extendedprice")
          .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
        val th = l.groupBy(col("l_partkey").as("t_partkey"))
          .agg((sum(col("l_quantity").cast("decimal(12,2)")).cast("double") /
            count(lit(1)) * 0.2).as("qty_threshold"))
        l.join(th, col("l_partkey") === col("t_partkey"))
          .filter(col("l_quantity") < col("qty_threshold"))
          .agg((sum(col("l_extendedprice").cast("decimal(18,6)")).cast("double")
            / 7.0).as("avg_yearly"))
      },
      Some("""WITH pk AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#13'),
             |l AS (SELECT l_partkey, l_quantity, l_extendedprice
             |      FROM lineitem JOIN pk ON l_partkey = p_partkey),
             |th AS (SELECT l_partkey AS t_partkey,
             |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
             |    / count(*) * 0.2 AS qty_threshold
             |  FROM l GROUP BY 1)
             |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             |  / 7.0 AS avg_yearly
             |FROM l JOIN th ON l_partkey = t_partkey
             |WHERE l_quantity < qty_threshold""".stripMargin)),

    // Q20 shape (concentrated-supplier promotion): nested IN subqueries →
    // two left-semi joins. partsupp derived from lineitem (as in Q2);
    // "availqty > half of shipments" becomes "1996 shipments > half of
    // all-time" — suppliers whose small-part volume concentrated in 1996.
    // Both IN lists stay distributed: the part filter broadcasts, the
    // qualifying-supplier set is a grouped filter, the nation pin is a
    // broadcast semi join.
    QueryDef("tpch_q20",
      (s, dir) => {
        val smallParts = Tables.read(s, dir, "part")
          .filter(col("p_name").startsWith("small")).select("p_partkey")
        val ps = Tables.read(s, dir, "lineitem")
          .join(broadcast(smallParts), col("l_partkey") === col("p_partkey"))
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(
            sum(col("l_quantity").cast("decimal(12,2)")).cast("double")
              .as("total_qty"),
            sum(when(year(col("l_shipdate")) === 1996, col("l_quantity"))
              .otherwise(lit(0)).cast("decimal(12,2)")).cast("double")
              .as("qty_1996"))
        val qual = ps.filter(col("qty_1996") > col("total_qty") * 0.5)
          .select("l_suppkey").distinct()
        val natPin = Tables.read(s, dir, "nation")
          .filter(col("n_name") === "NATION_3").select("n_nationkey")
        Tables.read(s, dir, "supplier")
          .join(qual, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .join(broadcast(natPin),
            col("s_nationkey") === col("n_nationkey"), "left_semi")
          .select("s_name", "s_acctbal")
          .orderBy("s_name", "s_acctbal")
      },
      Some("""WITH ps AS (
             |  SELECT l_partkey, l_suppkey,
             |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty,
             |    CAST(SUM(CAST(CASE WHEN year(l_shipdate) = 1996
             |      THEN l_quantity ELSE 0 END AS DECIMAL(12,2))) AS DOUBLE) AS qty_1996
             |  FROM lineitem
             |  WHERE l_partkey IN (SELECT p_partkey FROM part
             |                      WHERE p_name LIKE 'small%')
             |  GROUP BY 1, 2)
             |SELECT s_name, s_acctbal
             |FROM supplier
             |WHERE s_suppkey IN (SELECT l_suppkey FROM ps
             |                    WHERE qty_1996 > total_qty * 0.5)
             |  AND s_nationkey IN (SELECT n_nationkey FROM nation
             |                      WHERE n_name = 'NATION_3')
             |ORDER BY s_name, s_acctbal""".stripMargin)),

    // Q4 shape (order-priority checking): EXISTS with a correlated
    // condition referencing BOTH sides (l_shipdate > o_orderdate + 30d) —
    // plans as a left-semi join whose condition mixes the equi key with a
    // non-equi residual. No l_commitdate/l_receiptdate in the testdata, so
    // "late" = shipped > 30 days after order date.
    QueryDef("tpch_q4",
      (s, dir) => {
        val o = Tables.read(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-07-01 00:00:00").cast("timestamp") &&
            col("o_orderdate") < lit("1996-10-01 00:00:00").cast("timestamp"))
        val l = Tables.read(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
        o.join(l, col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("interval 30 days"),
            "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
             |FROM orders
             |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
             |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
             |  AND EXISTS (SELECT 1 FROM lineitem
             |    WHERE l_orderkey = o_orderkey
             |      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
             |GROUP BY o_orderpriority
             |ORDER BY o_orderpriority""".stripMargin)),

    // Q6 shape (forecasting revenue change): the pure scan-filter-agg
    // class — every predicate pushes to the parquet scan, zero joins, one
    // partial+final agg. The canonical "is pushdown actually happening"
    // probe.
    QueryDef("tpch_q6",
      (s, dir) => Tables.read(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(18,6)")).cast("double").as("revenue")),
      Some("""SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
             |  AND l_discount BETWEEN 0.05 AND 0.07
             |  AND l_quantity < 24""".stripMargin)),

    // Q8 shape (national market share): the deepest join tree in the suite
    // — lineitem joins orders/customer/nation/region on the demand side and
    // supplier/nation/part on the supply side; share = conditional sum over
    // total per year. Both sums fold into ONE aggregate pass.
    QueryDef("tpch_q8",
      (s, dir) => {
        val l = Tables.read(s, dir, "lineitem")
        val o = Tables.read(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1995-01-01 00:00:00").cast("timestamp") &&
            col("o_orderdate") <= lit("1996-12-31 23:59:59").cast("timestamp"))
          .select("o_orderkey", "o_custkey", "o_orderdate")
        val c = Tables.read(s, dir, "customer").select("c_custkey", "c_nationkey")
        val nc = Tables.read(s, dir, "nation")
          .select(col("n_nationkey").as("cnk"), col("n_regionkey"))
        val r = Tables.read(s, dir, "region").filter(col("r_name") === "ASIA")
        val sup = Tables.read(s, dir, "supplier").select("s_suppkey", "s_nationkey")
        val ns = Tables.read(s, dir, "nation")
          .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))
        val p = Tables.read(s, dir, "part")
          .filter(col("p_type") === "ECONOMY").select("p_partkey")
        val vol = (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")
        l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(nc), col("c_nationkey") === col("cnk"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .join(sup, col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(ns), col("s_nationkey") === col("snk"))
          .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
          .agg((sum(when(col("supp_nation") === "NATION_5", vol)
            .otherwise(lit(0).cast("decimal(18,6)"))).cast("double") /
            sum(vol).cast("double")).as("mkt_share"))
          .orderBy("o_year")
      },
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             |CAST(SUM(CAST(CASE WHEN n2.n_name = 'NATION_5'
             |    THEN l_extendedprice * (1 - l_discount) ELSE 0 END
             |  AS DECIMAL(18,6))) AS DOUBLE)
             |/ CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
             |  AS DECIMAL(18,6))) AS DOUBLE) AS mkt_share
             |FROM lineitem
             |JOIN part ON p_partkey = l_partkey
             |JOIN orders ON o_orderkey = l_orderkey
             |JOIN customer ON c_custkey = o_custkey
             |JOIN nation n1 ON n1.n_nationkey = c_nationkey
             |JOIN region ON r_regionkey = n1.n_regionkey
             |JOIN supplier ON s_suppkey = l_suppkey
             |JOIN nation n2 ON n2.n_nationkey = s_nationkey
             |WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
             |  AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
             |                      AND TIMESTAMP '1996-12-31 23:59:59'
             |GROUP BY 1 ORDER BY o_year""".stripMargin)),

    // Q11 shape (important stock identification): per-part value within one
    // nation's suppliers, kept where the part's share exceeds a fraction of
    // the nation total — a grouped agg re-filtered against its own grand
    // total. The total rides along as a broadcast 1-row frame (never a
    // collect); value sums stay DECIMAL until the output/threshold edge.
    QueryDef("tpch_q11",
      (s, dir) => {
        val natSup = Tables.read(s, dir, "supplier")
          .join(broadcast(Tables.read(s, dir, "nation")
            .filter(col("n_name") === "NATION_3")),
            col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey")
        val pv = Tables.read(s, dir, "lineitem")
          .join(broadcast(natSup), col("l_suppkey") === col("s_suppkey"))
          .groupBy(col("l_partkey").as("ps_partkey"))
          .agg(sum((col("l_extendedprice") * col("l_quantity"))
            .cast("decimal(18,6)")).as("value_d"))
        val tot = pv.agg(sum(col("value_d")).as("total_d"))
        pv.join(broadcast(tot))
          .filter(col("value_d").cast("double") >
            col("total_d").cast("double") * 0.001)
          .select(col("ps_partkey"), col("value_d").cast("double").as("value"))
          .orderBy(desc("value"), col("ps_partkey"))
      },
      Some("""WITH pv AS (
             |  SELECT l_partkey AS ps_partkey,
             |    SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,6))) AS value_d
             |  FROM lineitem
             |  JOIN supplier ON s_suppkey = l_suppkey
             |  JOIN nation ON n_nationkey = s_nationkey
             |  WHERE n_name = 'NATION_3'
             |  GROUP BY 1),
             |tot AS (SELECT SUM(value_d) AS total_d FROM pv)
             |SELECT ps_partkey, CAST(value_d AS DOUBLE) AS value
             |FROM pv CROSS JOIN tot
             |WHERE CAST(value_d AS DOUBLE) > CAST(total_d AS DOUBLE) * 0.001
             |ORDER BY value DESC, ps_partkey""".stripMargin)),

    // Q12 shape (shipping-mode priority): join + two conditional counts in
    // one agg pass. No l_shipmode in the testdata, so groups are
    // l_linestatus and "late" = shipped > 30 days after order date.
    QueryDef("tpch_q12",
      (s, dir) => {
        val l = Tables.read(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
          .select("l_orderkey", "l_shipdate", "l_linestatus")
        val o = Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_orderdate", "o_orderpriority")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate") > col("o_orderdate") + expr("interval 30 days"))
          .groupBy("l_linestatus")
          .agg(
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L)).as("high_line_count"),
            sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
              .otherwise(0L)).as("low_line_count"))
          .orderBy("l_linestatus")
      },
      Some("""SELECT l_linestatus,
             |CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
             |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             |CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
             |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
             |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
             |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
             |  AND l_shipdate > o_orderdate + INTERVAL 30 DAY
             |GROUP BY l_linestatus
             |ORDER BY l_linestatus""".stripMargin)),

    // Q14 shape (promotion effect): conditional-over-total revenue ratio
    // for one month of shipments — broadcast part join, both sums in one
    // agg, identical double expression order in both engines.
    QueryDef("tpch_q14",
      (s, dir) => {
        val l = Tables.read(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-03-01 00:00:00").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
        val p = Tables.read(s, dir, "part").select("p_partkey", "p_type")
        val vol = (col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")
        l.join(p, col("l_partkey") === col("p_partkey"))
          .agg((lit(100.0) * sum(when(col("p_type") === "PROMO", vol)
            .otherwise(lit(0).cast("decimal(18,6)"))).cast("double") /
            sum(vol).cast("double")).as("promo_revenue"))
      },
      Some("""SELECT 100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
             |    THEN l_extendedprice * (1 - l_discount) ELSE 0 END
             |  AS DECIMAL(18,6))) AS DOUBLE)
             |/ CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
             |  AS DECIMAL(18,6))) AS DOUBLE) AS promo_revenue
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |WHERE l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
             |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin)),

    // Q15 shape (top supplier): grouped revenue, then "= max" — the
    // argmax-by-join class. The comparison stays DECIMAL (exact) until the
    // output edge; max is a 1-row broadcast, never a driver collect.
    QueryDef("tpch_q15",
      (s, dir) => {
        val rev = Tables.read(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
            col("l_shipdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
          .groupBy(col("l_suppkey"))
          .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)")).as("rev_d"))
        val mx = rev.agg(max(col("rev_d")).as("max_rev"))
        rev.join(broadcast(mx), col("rev_d") === col("max_rev"))
          .join(Tables.read(s, dir, "supplier"),
            col("s_suppkey") === col("l_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            col("rev_d").cast("double").as("total_revenue"))
          .orderBy("s_suppkey")
      },
      Some("""WITH rev AS (
             |  SELECT l_suppkey,
             |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS rev_d
             |  FROM lineitem
             |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
             |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
             |  GROUP BY l_suppkey)
             |SELECT s_suppkey, s_name, CAST(rev_d AS DOUBLE) AS total_revenue
             |FROM rev JOIN supplier ON s_suppkey = l_suppkey
             |WHERE rev_d = (SELECT max(rev_d) FROM rev)
             |ORDER BY s_suppkey""".stripMargin)),

    // Q16 shape (supplier-count by part attributes): COUNT(DISTINCT) per
    // 3-key group after an anti-join exclusion list ("complaint" suppliers
    // = negative balance — no s_comment in the testdata). The NOT IN plans
    // as a broadcast left-anti, never a collected list.
    QueryDef("tpch_q16",
      (s, dir) => {
        val p = Tables.read(s, dir, "part")
          .filter(col("p_brand") =!= "Brand#13" &&
            col("p_size").between(1, 8))
          .select("p_partkey", "p_brand", "p_type", "p_size")
        val bad = Tables.read(s, dir, "supplier")
          .filter(col("s_acctbal") < 0).select("s_suppkey")
        Tables.read(s, dir, "lineitem").select("l_partkey", "l_suppkey")
          .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"),
            "left_anti")
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand", "p_type", "p_size")
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"),
            col("p_size"))
      },
      Some("""SELECT p_brand, p_type, p_size,
             |count(DISTINCT l_suppkey) AS supplier_cnt
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |WHERE p_brand <> 'Brand#13' AND p_size BETWEEN 1 AND 8
             |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
             |                        WHERE s_acctbal < 0)
             |GROUP BY 1, 2, 3
             |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    // Q19 shape (discounted revenue, disjunctive predicates): the
    // OR-of-ANDs join class — Catalyst extracts the common l_partkey =
    // p_partkey equi-key for the (broadcast) hash join and keeps the
    // disjunction as a residual filter; no predicate is lost.
    QueryDef("tpch_q19",
      (s, dir) => {
        val l = Tables.read(s, dir, "lineitem")
        val p = Tables.read(s, dir, "part")
        l.join(broadcast(p), col("l_partkey") === col("p_partkey") && (
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30))))
          .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)")).cast("double").as("revenue"))
      },
      Some("""SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
             |  AS DECIMAL(18,6))) AS DOUBLE) AS revenue
             |FROM lineitem JOIN part ON p_partkey = l_partkey
             |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
             |       AND l_quantity BETWEEN 1 AND 11)
             |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
             |       AND l_quantity BETWEEN 10 AND 20)
             |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
             |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // Q22 shape (global sales opportunity): scalar-subquery threshold
    // (avg positive balance) against an anti-joined customer set, grouped
    // by country code (= c_nationkey — no phone column in the testdata).
    // The scalar avg rides along as a broadcast 1-row frame; "never placed
    // an urgent order" is the left-anti leg (the testdata's dense
    // order-per-customer ratio makes plain "no orders" empty).
    QueryDef("tpch_q22",
      (s, dir) => {
        val c = Tables.read(s, dir, "customer")
          .select("c_custkey", "c_nationkey", "c_acctbal")
        val avgBal = c.filter(col("c_acctbal") > 0)
          .agg((sum(col("c_acctbal").cast("decimal(12,2)")).cast("double") /
            count(lit(1))).as("avg_bal"))
        val o = Tables.read(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
        c.join(broadcast(avgBal))
          .filter(col("c_acctbal") > col("avg_bal"))
          .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey").as("cntrycode"))
          .agg(count(lit(1)).as("numcust"),
            sum(col("c_acctbal").cast("decimal(12,2)")).cast("double")
              .as("totacctbal"))
          .orderBy("cntrycode")
      },
      Some("""SELECT c_nationkey AS cntrycode, count(*) AS numcust,
             |CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS totacctbal
             |FROM customer
             |WHERE c_acctbal > (
             |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
             |      / count(*)
             |    FROM customer WHERE c_acctbal > 0)
             |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
             |                  AND o_orderpriority = '1-URGENT')
             |GROUP BY 1 ORDER BY cntrycode""".stripMargin)),

    // Correlated subqueries, exercised through spark.sql so Catalyst's
    // decorrelation does the planning: the scalar subquery becomes an
    // aggregate + outer join, EXISTS becomes a left-semi join — both
    // shuffle-on-key shapes, never per-row re-execution (the nested-loop
    // a naive reading implies would be quadratic at scale).
    QueryDef("subquery_correlated",
      (s, dir) => {
        Tables.read(s, dir, "lineitem").createOrReplaceTempView("lineitem_sq")
        Tables.read(s, dir, "orders").createOrReplaceTempView("orders_sq")
        s.sql("""SELECT o_orderkey, o_totalprice,
                |  (SELECT max(l_quantity) FROM lineitem_sq
                |   WHERE l_orderkey = o_orderkey) AS max_qty
                |FROM orders_sq
                |WHERE EXISTS (SELECT 1 FROM lineitem_sq
                |              WHERE l_orderkey = o_orderkey
                |                AND l_returnflag = 'R')
                |ORDER BY o_orderkey LIMIT 1000""".stripMargin)
      },
      Some("""SELECT o_orderkey, o_totalprice,
             |  (SELECT max(l_quantity) FROM lineitem
             |   WHERE l_orderkey = o_orderkey) AS max_qty
             |FROM orders
             |WHERE EXISTS (SELECT 1 FROM lineitem
             |              WHERE l_orderkey = o_orderkey
             |                AND l_returnflag = 'R')
             |ORDER BY o_orderkey LIMIT 1000""".stripMargin)),

    // MERGE semantics (WHEN MATCHED update, WHEN NOT MATCHED insert) as one
    // anti-join + union: a 10%-of-keys changeset (prices revised) plus a
    // disjoint insert set merge into the orders snapshot. At scale the
    // changeset side broadcasts; see ops.Merge.upsertPartitioned for the
    // dynamic-partition-overwrite file path (spec-gated).
    QueryDef("merge_upsert",
      (s, dir) => {
        val o = Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
        val updates = o.filter(pmod(col("o_orderkey"), lit(10)) === 3)
          .withColumn("o_totalprice", col("o_totalprice") * 1.1)
        val inserts = o.filter(pmod(col("o_orderkey"), lit(10)) === 7)
          .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
            col("o_totalprice"))
        graft.ops.Merge.upsert(o, updates.unionByName(inserts),
          Seq("o_orderkey"))
          .orderBy("o_orderkey")
      },
      Some("""WITH o AS (SELECT o_orderkey, o_totalprice FROM orders),
             |src AS (
             |  SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice
             |  FROM o WHERE o_orderkey % 10 = 3
             |  UNION ALL
             |  SELECT o_orderkey + 100000000, o_totalprice
             |  FROM o WHERE o_orderkey % 10 = 7)
             |SELECT o_orderkey, o_totalprice FROM src
             |UNION ALL
             |SELECT o_orderkey, o_totalprice FROM o
             |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
             |ORDER BY o_orderkey""".stripMargin)),

    // CDC changelog apply: latest event per key wins (seq order), a
    // winning D drops the key, a D followed by I resurrects it — the
    // Debezium/binlog-materialization shape. Planned as ONE max_by agg
    // with map-side partials (sort-based, the struct buffer rules out
    // HashAggregate; the shuffle still carries one reduced row per
    // task×key, not the raw log) — strictly better at 100 TB than the
    // row_number window form, which shuffles the full log unreduced. The
    // oracle USES the window form: agreement also proves the two
    // formulations equivalent on per-key-unique seqs.
    QueryDef("cdc_apply",
      (s, dir) => {
        val o = Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
        val base = o.select(col("o_orderkey"), lit(1L).as("seq"),
          lit("I").as("op"), col("o_totalprice").as("price"))
        val updates = o.filter(pmod(col("o_orderkey"), lit(10)).isin(1L, 3L))
          .select(col("o_orderkey"), lit(2L).as("seq"), lit("U").as("op"),
            (col("o_totalprice") * 1.2).as("price"))
        val deletes = o.filter(pmod(col("o_orderkey"), lit(10)) === 3)
          .select(col("o_orderkey"), lit(3L).as("seq"), lit("D").as("op"),
            lit(null).cast("double").as("price"))
        val resurrect = o.filter(pmod(col("o_orderkey"), lit(20)) === 3)
          .select(col("o_orderkey"), lit(4L).as("seq"), lit("I").as("op"),
            (col("o_totalprice") + 7.0).as("price"))
        val log = base.unionByName(updates).unionByName(deletes)
          .unionByName(resurrect)
        graft.ops.Merge.applyChangelog(log, Seq("o_orderkey"), "seq", "op")
          .orderBy("o_orderkey")
      },
      Some("""WITH o AS (SELECT o_orderkey, o_totalprice FROM orders),
             |log AS (
             |  SELECT o_orderkey, 1 AS seq, 'I' AS op,
             |         o_totalprice AS price FROM o
             |  UNION ALL
             |  SELECT o_orderkey, 2, 'U', o_totalprice * 1.2
             |  FROM o WHERE o_orderkey % 10 IN (1, 3)
             |  UNION ALL
             |  SELECT o_orderkey, 3, 'D', NULL
             |  FROM o WHERE o_orderkey % 10 = 3
             |  UNION ALL
             |  SELECT o_orderkey, 4, 'I', o_totalprice + 7.0
             |  FROM o WHERE o_orderkey % 20 = 3),
             |last AS (SELECT *, row_number() OVER
             |    (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
             |  FROM log)
             |SELECT o_orderkey, price FROM last
             |WHERE rn = 1 AND op <> 'D' ORDER BY o_orderkey""".stripMargin)),

    // Bucketed co-located join: both tables laid out bucketBy(orderkey) +
    // sortBy ONCE (ensureBucketed fixture above), so the join AND the
    // follow-on aggregate on the same key run with zero Exchange — the
    // only shuffle happened at the one-time layout build; BucketingSpec
    // pins the shuffle-free plan. The declared query times the read path:
    // bucketed SMJ wins below the broadcast threshold only via the
    // sort-merge path, so the demo keys on the bucket metadata, not join
    // strategy luck.
    QueryDef("join_bucketed",
      (s, dir) => {
        val (ordersTbl, lineitemTbl) = ensureBucketed(s, dir)
        s.table(lineitemTbl)
          .join(s.table(ordersTbl),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderkey")
          .agg(sum(col("l_quantity").cast("decimal(12,2)")).cast("double")
            .as("sum_qty"),
            max(col("o_totalprice")).as("o_totalprice"))
          .orderBy("o_orderkey")
          .limit(1000)
      },
      Some("""SELECT o_orderkey,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
             |max(o_totalprice) AS o_totalprice
             |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
             |GROUP BY 1 ORDER BY o_orderkey LIMIT 1000""".stripMargin)),

    // sink breadth: CSV round-trip (header + explicit schema read-back).
    // Parallel multi-file write — the read-back re-sorts, so no coalesce(1)
    // single-writer funnel; the path is keyed by the input dir so runs at
    // different scale factors never clobber each other mid-query.
    QueryDef("sink_csv_roundtrip",
      (s, dir) => {
        val src = Tables.read(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        val path =
          s"/tmp/graft_sink_csv_demo_${Artifacts.dirTag(dir)}"
        src.write.mode("overwrite").option("header", "true").csv(path)
        s.read.schema(src.schema).option("header", "true").csv(path)
          .orderBy("s_suppkey")
      },
      Some("SELECT s_suppkey, s_name, s_acctbal FROM supplier ORDER BY s_suppkey")),

    // sink breadth: JSON round-trip (write json, read back with the source
    // schema, prove lossless) — parallel write, sf-keyed path, as above
    QueryDef("sink_json_roundtrip",
      (s, dir) => {
        val src = Tables.read(s, dir, "nation")
          .select("n_nationkey", "n_name", "n_regionkey")
        val path =
          s"/tmp/graft_sink_json_demo_${Artifacts.dirTag(dir)}"
        src.write.mode("overwrite").json(path)
        s.read.schema(src.schema).json(path).orderBy("n_nationkey")
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

    // sink breadth: ORC round-trip — the third columnar format Spark
    // ships natively (predicate pushdown + column pruning work the same
    // as parquet). Write is parallel, read proves losslessness; DECIMAL
    // column included to exercise the typed path.
    QueryDef("sink_orc_roundtrip",
      (s, dir) => {
        val src = Tables.read(s, dir, "part")
          .select("p_partkey", "p_name", "p_retailprice")
        val path =
          s"/tmp/graft_sink_orc_demo_${Artifacts.dirTag(dir)}"
        src.write.mode("overwrite").orc(path)
        s.read.schema(src.schema).orc(path).orderBy("p_partkey")
      },
      Some("SELECT p_partkey, p_name, p_retailprice FROM part ORDER BY p_partkey"))
  )
}
