package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.QueryDef.Sql
import graft.core.{Artifacts, GraftFunctions, Guards, KeyMapper, Normalize, Tables, TimeParse}
import graft.dims.{Generators, NationDim, PriorityDim}
import graft.facts.Star
import graft.io.Sink

/** The reference's operator inventory (SURVEY §2), one declared query per
  * operator, each with a term-for-term DuckDB oracle. Timestamps are emitted
  * as formatted strings so Spark-µs vs DuckDB-ns physical types can never
  * skew the comparison; every query ends in a total ORDER BY.
  */
object ReferenceQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(s, dir, name)

  private val tsFmtSpark = "yyyy-MM-dd HH:mm:ss.SSSSSS"
  private val tsFmtDuck = "%Y-%m-%d %H:%M:%S.%f"

  val all: Seq[QueryDef] = Seq(

    // S1/S3: source scan with a pushed [start,end) slice predicate
    // (load_311.py:11-17: the SoQL $where analog; here the filter reaches the
    // parquet row groups — see PushedFilters in .explain).
    QueryDef("scan_source",
      (s, dir) => t(s, dir, "events")
        .filter(col("ts") >= lit("2024-01-02 00:00:00").cast("timestamp") &&
                col("ts") <  lit("2024-01-03 00:00:00").cast("timestamp"))
        .select(col("event_id"),
          date_format(col("ts"), tsFmtSpark).as("ts_str"),
          col("user_id"), col("event_type"), col("value"))
        .orderBy("event_id"),
      Some(s"""SELECT event_id, strftime(ts, '$tsFmtDuck') AS ts_str,
              |user_id, event_type, value FROM events
              |WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'
              |  AND ts <  TIMESTAMP '2024-01-03 00:00:00'
              |ORDER BY event_id""".stripMargin)),

    // S2: fiscal-year routing = partition pruning (load_parking.py:40-47
    // picks 1 of 11 physical datasets). We materialize orders partitioned by
    // fy once, then scan with a partition predicate — at 100 TB only the
    // matching partition directory is listed and read.
    QueryDef("scan_partition_pruned",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val cache = Artifacts.materialize(Artifacts.key("fy_orders", dir, o)) {
          o.withColumn("fy", year(col("o_orderdate")))
            .write.partitionBy("fy").parquet(_)
        }
        Artifacts.scan(s, cache)
          .filter(col("fy") === 1995)
          .select(col("o_orderkey"), col("fy").cast("long").as("fy"),
            col("o_totalprice"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS fy,
             |o_totalprice FROM orders WHERE year(o_orderdate) = 1995
             |ORDER BY o_orderkey""".stripMargin)),

    // P1: projection intersected with available columns (load_311.py:109-110)
    // — c_phone is requested but absent, so only the present three survive.
    QueryDef("project_available",
      (s, dir) => Guards.selectAvailable(t(s, dir, "customer"),
          Seq("c_custkey", "c_name", "c_mktsegment", "c_phone"))
        .orderBy("c_custkey"),
      Some("SELECT c_custkey, c_name, c_mktsegment FROM customer ORDER BY c_custkey")),

    // P2: time-range predicate (load_311.py:13) pushed to the scan.
    QueryDef("filter_range",
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
                col("l_shipdate") <  lit("1996-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber"),
          date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"),
          col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |strftime(l_shipdate, '%Y-%m-%d') AS ship_date, l_quantity
             |FROM lineitem
             |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
             |  AND l_shipdate <  TIMESTAMP '1996-01-01 00:00:00'
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // P3: null-drop on key columns (load_parking.py:129). Testdata has no
    // nulls, so we first derive a nullable column, then na.drop it.
    QueryDef("filter_dropna",
      (s, dir) => t(s, dir, "events")
        .withColumn("etype",
          when(col("event_type") =!= "click", col("event_type")))
        .na.drop("any", Seq("etype"))
        .select("event_id", "etype")
        .orderBy("event_id"),
      Some("""SELECT event_id, event_type AS etype FROM events
             |WHERE event_type <> 'click' ORDER BY event_id""".stripMargin)),

    // P5: limit pushdown ($limit, load_311.py:15). Ordered for determinism —
    // Spark plans this as TakeOrderedAndProject (per-partition top-k, then
    // driver merge: no global sort shuffle even at 100 TB).
    QueryDef("limit_n",
      (s, dir) => t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_totalprice"),
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin)),

    // A1+F1+F2 (slice 0): the dim-build spine — distinct projection over
    // nation⋈region, normalized, surrogate-keyed (agency_loader.py:10-17).
    QueryDef("distinct_project",
      (s, dir) => NationDim
        .fromTables(t(s, dir, "nation"), t(s, dir, "region"))
        .select("n_name", "r_name", "nation_key")
        .orderBy("n_name"),
      Some(s"""SELECT ${Sql.norm("sub.n_name")} AS n_name,
              |${Sql.norm("sub.r_name")} AS r_name,
              |${Sql.hashKey(Sql.pipeKey(Seq("sub.n_name", "sub.r_name")))} AS nation_key
              |FROM (SELECT DISTINCT n.n_name, r.r_name FROM nation n
              |      JOIN region r ON n.n_regionkey = r.r_regionkey) sub
              |ORDER BY n_name""".stripMargin)),

    // A2: distinct-on keep-first (violation_loader.py:15-18), deterministic
    // window form: first event per user by (ts, event_id).
    QueryDef("distinct_on_first",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        t(s, dir, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_id"),
            date_format(col("ts"), tsFmtSpark).as("ts_str"))
          .orderBy("user_id")
      },
      Some(s"""SELECT user_id, event_id, strftime(ts, '$tsFmtDuck') AS ts_str
              |FROM (SELECT user_id, event_id, ts,
              |        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
              |      FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // U1: union-by-name with missing columns null-filled (main.py:50 —
    // pd.concat alignment == unionByName(allowMissingColumns)).
    QueryDef("union_by_name",
      (s, dir) => {
        val c = t(s, dir, "customer").select(
          col("c_name").as("name"), col("c_acctbal").as("acctbal"),
          col("c_mktsegment").as("segment"), lit("customer").as("src"))
        val sup = t(s, dir, "supplier").select(
          col("s_name").as("name"), col("s_acctbal").as("acctbal"),
          lit("supplier").as("src"))
        c.unionByName(sup, allowMissingColumns = true)
          .select("name", "acctbal", "segment", "src")
          .orderBy("src", "name")
      },
      Some("""SELECT c_name AS name, c_acctbal AS acctbal,
             |c_mktsegment AS segment, 'customer' AS src FROM customer
             |UNION ALL
             |SELECT s_name, s_acctbal, NULL, 'supplier' FROM supplier
             |ORDER BY src, name""".stripMargin)),

    // J1: surrogate-key assignment — the reference's only join
    // (key_mapper.py:5-49): dim = distinct normalized categorical pair,
    // fact left-joins it on the pipe key and keeps only the stamped key.
    QueryDef("join_left_surrogate",
      (s, dir) => {
        val fact = Normalize.normalizeStrings(
          t(s, dir, "orders"), PriorityDim.naturalCols)
        val dim = PriorityDim.build(fact)
        KeyMapper.assignKeys(fact, dim, PriorityDim.naturalCols, PriorityDim.keyName)
          .select("o_orderkey", "prio_key")
          .orderBy("o_orderkey")
      },
      Some(s"""SELECT o_orderkey,
              |${Sql.hashKey(Sql.pipeKey(Seq("o_orderpriority", "o_orderstatus")))} AS prio_key
              |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // J1a: the multi-join star stamping (main.py:106-135): three dims
    // broadcast-left-joined onto the enriched lineitem fact.
    QueryDef("join_fact_dims",
      (s, dir) => Star.buildFact(s, dir).orderBy("l_orderkey", "l_linenumber"),
      Some(s"""SELECT l.l_orderkey, l.l_linenumber, l.l_quantity,
              |l.l_extendedprice, l.l_discount,
              |CAST(strftime(l.l_shipdate, '%Y%m%d') AS BIGINT) AS ship_date_key,
              |${Sql.hashKey(Sql.pipeKey(Seq("p.p_brand", "p.p_type")))} AS part_key,
              |${Sql.hashKey(Sql.pipeKey(Seq("s.s_name")))} AS supplier_key,
              |${Sql.hashKey(Sql.pipeKey(Seq("n.n_name", "r.r_name")))} AS nation_key
              |FROM lineitem l
              |JOIN part p ON l.l_partkey = p.p_partkey
              |JOIN supplier s ON l.l_suppkey = s.s_suppkey
              |JOIN nation n ON s.s_nationkey = n.n_nationkey
              |JOIN region r ON n.n_regionkey = r.r_regionkey
              |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin)),

    // G1: date-dimension generator (date_loader.py:10-20), end-inclusive.
    QueryDef("gen_date_dim",
      (s, _) => Generators.dateDim(s, "2024-01-01", "2024-12-31")
        .orderBy("date_key"),
      Some(dateDimOracle)),

    // G2: time-dimension generator (time_loader.py:8-21), 1440 minute rows.
    QueryDef("gen_time_dim",
      (s, _) => Generators.timeDim(s).orderBy("time_key"),
      Some("""SELECT CAST(i // 60 * 10000 + (i % 60) * 100 AS BIGINT) AS time_key,
             |CAST(i // 60 AS BIGINT) AS hour, CAST(i % 60 AS BIGINT) AS minute
             |FROM generate_series(0, 1439) t(i) ORDER BY time_key""".stripMargin)),

    // F1: normalize_strings (utils.py:10-16).
    QueryDef("fn_normalize",
      (s, dir) => {
        val df = Normalize.normalizeStrings(
          t(s, dir, "part"), Seq("p_brand", "p_type"))
        df.select(col("p_partkey"), col("p_brand").as("norm_brand"),
            col("p_type").as("norm_type"))
          .orderBy("p_partkey")
      },
      Some(s"""SELECT p_partkey, ${Sql.norm("p_brand")} AS norm_brand,
              |${Sql.norm("p_type")} AS norm_type FROM part
              |ORDER BY p_partkey""".stripMargin)),

    // F2: the surrogate hash itself (utils.py:5-8) over customer vectors.
    QueryDef("fn_hash_key",
      (s, dir) => {
        val df = Normalize.normalizeStrings(
          t(s, dir, "customer"), Seq("c_name", "c_mktsegment"))
        df.select(col("c_custkey"),
            GraftFunctions.hashKey(Seq(col("c_name"), col("c_mktsegment")))
              .as("customer_key"))
          .orderBy("c_custkey")
      },
      Some(s"""SELECT c_custkey,
              |${Sql.hashKey(Sql.pipeKey(Seq("c_name", "c_mktsegment")))} AS customer_key
              |FROM customer ORDER BY c_custkey""".stripMargin)),

    // F3: coercing timestamp parse (pd.to_datetime errors="coerce",
    // load_311.py:37-47): every 5th row is corrupted and must parse to null.
    QueryDef("fn_parse_ts",
      (s, dir) => {
        val base = date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")
        t(s, dir, "events")
          .withColumn("raw",
            when(col("event_id") % 5 === 0, concat(base, lit("xx")))
              .otherwise(base))
          .select(col("event_id"), col("raw"),
            date_format(TimeParse.parseTs(col("raw")), "yyyy-MM-dd HH:mm:ss")
              .as("parsed_str"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, raw,
             |strftime(try_strptime(raw, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS parsed_str
             |FROM (SELECT event_id,
             |        strftime(ts, '%Y-%m-%d %H:%M:%S') ||
             |        (CASE WHEN event_id % 5 = 0 THEN 'xx' ELSE '' END) AS raw
             |      FROM events) ORDER BY event_id""".stripMargin)),

    // F4: YYYYMMDD date key (load_311.py:50-52).
    QueryDef("fn_date_key",
      (s, dir) => t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          TimeParse.dateKey(col("l_shipdate")).as("ship_date_key"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |CAST(strftime(l_shipdate, '%Y%m%d') AS BIGINT) AS ship_date_key
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // F5: HHMM00 time key (load_311.py:53-55).
    QueryDef("fn_time_key",
      (s, dir) => t(s, dir, "events")
        .select(col("event_id"), TimeParse.timeKey(col("ts")).as("time_key"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |CAST(hour(ts) * 10000 + minute(ts) * 100 AS BIGINT) AS time_key
             |FROM events ORDER BY event_id""".stripMargin)),

    // F6: AM/PM violation-time parser (load_parking.py:87-113). Four input
    // shapes synthesized from events.ts: "0853P", "8:53A", "08:53PM", garbage.
    QueryDef("fn_parse_ampm",
      (s, dir) => {
        val hh12 = date_format(col("ts"), "hh")
        val mm = date_format(col("ts"), "mm")
        val mer = date_format(col("ts"), "a")
        val letter = substring(mer, 1, 1)
        val shape = col("event_id") % 4
        t(s, dir, "events")
          .withColumn("raw",
            when(shape === 0, concat(hh12, mm, letter))
              .when(shape === 1,
                concat(hh12.cast("int").cast("string"), lit(":"), mm, letter))
              .when(shape === 2, concat(hh12, lit(":"), mm, mer))
              .otherwise(lit("9961X")))
          .select(col("event_id"), col("raw"),
            TimeParse.parseAmPmKey(col("raw")).as("time_key"))
          .orderBy("event_id")
      },
      Some(ampmOracle)),

    // F7: coercing numeric casts (pd.to_numeric errors="coerce").
    QueryDef("fn_to_numeric",
      (s, dir) => t(s, dir, "events")
        .withColumn("raw_long",
          when(col("event_id") % 3 === 0, col("user_id").cast("string"))
            .otherwise(lit("n/a")))
        .withColumn("raw_double",
          when(col("event_id") % 3 === 1,
            concat(col("user_id").cast("string"), lit(".5")))
            .otherwise(lit("-")))
        .select(col("event_id"),
          Normalize.toLong(col("raw_long")).as("as_long"),
          Normalize.toDouble(col("raw_double")).as("as_double"))
        .orderBy("event_id"),
      Some("""SELECT event_id,
             |TRY_CAST(CASE WHEN event_id % 3 = 0 THEN CAST(user_id AS VARCHAR)
             |              ELSE 'n/a' END AS BIGINT) AS as_long,
             |TRY_CAST(CASE WHEN event_id % 3 = 1 THEN CAST(user_id AS VARCHAR) || '.5'
             |              ELSE '-' END AS DOUBLE) AS as_double
             |FROM events ORDER BY event_id""".stripMargin)),

    // F9: Yes/No -> boolean, null otherwise (vehicle_loader.py:29).
    QueryDef("fn_yesno",
      (s, dir) => t(s, dir, "lineitem")
        .withColumn("flag",
          when(col("l_returnflag") === "R", lit("Yes"))
            .when(col("l_returnflag") === "A", lit("No"))
            .otherwise(col("l_returnflag")))
        .select(col("l_orderkey"), col("l_linenumber"),
          Normalize.yesNo(col("flag")).as("is_returned"))
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |CASE WHEN flag = 'Yes' THEN TRUE WHEN flag = 'No' THEN FALSE END AS is_returned
             |FROM (SELECT l_orderkey, l_linenumber,
             |        CASE WHEN l_returnflag = 'R' THEN 'Yes'
             |             WHEN l_returnflag = 'A' THEN 'No'
             |             ELSE l_returnflag END AS flag
             |      FROM lineitem) ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Flagship analytic rollup over the star (the queries the schema exists
    // to serve — SURVEY §2.4). Sums go through DECIMAL so the result is
    // order-independent and bit-exact vs the oracle, then back to DOUBLE.
    QueryDef("agg_star_rollup",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"), col("o_orderpriority"))
          .agg(
            count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("decimal(12,2)")).cast("double")
              .as("sum_qty"),
            sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
              .cast("decimal(18,6)")).cast("double").as("revenue"))
          .orderBy("r_name", "o_orderpriority")
      },
      Some("""SELECT r.r_name, o.o_orderpriority, count(*) AS n_items,
             |CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
             |CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
             |FROM lineitem l
             |JOIN orders o ON l.l_orderkey = o.o_orderkey
             |JOIN customer c ON o.o_custkey = c.c_custkey
             |JOIN nation n ON c.c_nationkey = n.n_nationkey
             |JOIN region r ON n.n_regionkey = r.r_regionkey
             |GROUP BY r.r_name, o.o_orderpriority
             |ORDER BY r.r_name, o.o_orderpriority""".stripMargin)),

    // Window functions (SURVEY §2.5 — absent in the reference, part of the
    // analytical surface): top-3 suppliers by revenue within each nation.
    QueryDef("window_rank",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val sup = t(s, dir, "supplier")
        val n = t(s, dir, "nation")
        val rev = li.groupBy("l_suppkey")
          .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(18,6)")).as("revenue"))
        val w = Window.partitionBy("n_name")
          .orderBy(col("revenue").desc, col("s_suppkey"))
        rev.join(broadcast(sup), rev("l_suppkey") === sup("s_suppkey"))
          .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("n_name"), col("s_name"),
            col("revenue").cast("double").as("revenue"),
            col("rank").cast("long").as("rank"))
          .orderBy("n_name", "rank")
      },
      Some("""SELECT n_name, s_name, CAST(revenue AS DOUBLE) AS revenue,
             |CAST(rank AS BIGINT) AS rank FROM (
             |  SELECT n.n_name, s.s_name, rev.revenue, s.s_suppkey,
             |    row_number() OVER (PARTITION BY n.n_name
             |                       ORDER BY rev.revenue DESC, s.s_suppkey) AS rank
             |  FROM (SELECT l_suppkey,
             |          SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS revenue
             |        FROM lineitem GROUP BY l_suppkey) rev
             |  JOIN supplier s ON rev.l_suppkey = s.s_suppkey
             |  JOIN nation n ON s.s_nationkey = n.n_nationkey)
             |WHERE rank <= 3 ORDER BY n_name, rank""".stripMargin)),

    // S5/S6: append-mode sink (dim_loader.py:23-30) — write the date dim to a
    // scratch path, read it back. The oracle is the generator's oracle: the
    // sink must round-trip exactly.
    QueryDef("sink_append",
      (s, dir) => {
        // keyed by the input dir (as the csv/json round-trips are) so runs
        // at different scale factors never clobber each other mid-read
        val path =
          s"/tmp/graft_sink_demo_${Artifacts.dirTag(dir)}"
        val fs = org.apache.hadoop.fs.FileSystem
          .get(s.sparkContext.hadoopConfiguration)
        fs.delete(new Path(path), true)
        Sink.append(Generators.dateDim(s, "2024-01-01", "2024-12-31"), path)
        Sink.read(s, path).orderBy("date_key")
      },
      Some(dateDimOracle)),

    // S5 through the LOAD-JOB boundary (dim_loader.py:23-30: staged load,
    // WRITE_APPEND disposition, blocking job.result()): the same dim, two
    // append jobs — truncate-install then append the second half-year —
    // read back through the DSv2 scan. The oracle is the generator's: two
    // all-or-nothing committed generations must reassemble the exact
    // calendar. Load-job semantics themselves (atomicity, dispositions,
    // schema-drift refusal, abort) are spec-gated in WarehouseSinkSpec.
    QueryDef("sink_warehouse",
      (s, dir) => {
        val path =
          s"/tmp/graft_sink_wh_${Artifacts.dirTag(dir)}"
        Sink.overwrite(Generators.dateDim(s, "2024-01-01", "2024-06-30"),
          path, format = "graft-warehouse")
        Sink.append(Generators.dateDim(s, "2024-07-01", "2024-12-31"),
          path, format = "graft-warehouse")
        Sink.read(s, path, "graft-warehouse").orderBy("date_key")
      },
      Some(dateDimOracle)),

    // The warehouse READ path under the oracle gate: a range-clustered
    // orders slice lands in the load-job table once per corpus
    // (rangeClusteredOrders: repartitionByRange gives the staged files
    // disjoint o_orderkey zones), then the declared query filters +
    // projects through the DSv2 scan — zone maps prune whole files at
    // planning, the codec decodes only the two requested columns, and the
    // oracle (a plain filter over the source parquet) proves the pruning
    // changed nothing. WarehouseSinkSpec pins the file counts; this row
    // pins the values at every SF the driver runs.
    QueryDef("scan_warehouse_pruned",
      (s, dir) => {
        rangeClusteredOrders(s, dir)
          .filter(col("o_orderkey") >= 1000L && col("o_orderkey") < 3000L)
          .select("o_orderkey", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_orderkey >= 1000 AND o_orderkey < 3000
             |ORDER BY o_orderkey""".stripMargin)),

    // The warehouse read path pruning on a STRING predicate (round-8
    // verdict item 2): the reference's natural keys are normalized
    // strings (etl/core/utils.py:10-16 lower/strip), so a warehouse user's
    // #1 filter is a string equality — this fixture clusters orders by
    // o_orderpriority (repartitionByRange on the string column gives the
    // staged files disjoint priority zones), and the declared query's
    // equality predicate prunes whole files off the truncated binary
    // min/max bounds at planning time. WarehouseSinkSpec pins
    // planned-files < total plus the truncation/prefix edge cases; this
    // row pins the VALUES against the source-of-truth parquet at every SF
    // the driver runs. Output is a 1-row census (decimal-summed total) so
    // the gate stays small at sf1+.
    QueryDef("scan_warehouse_pruned_str",
      (s, dir) => {
        val orders = Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
        val path = Artifacts.key("wh_ordstr", dir, orders)
        if (graft.sources.WarehouseMeta.readManifest(path).isEmpty)
          Sink.overwrite(
            orders.repartitionByRange(8, col("o_orderpriority"),
              col("o_orderkey")),
            path, format = "graft-warehouse")
        Sink.read(s, path, "graft-warehouse")
          .filter(col("o_orderpriority") === "1-URGENT")
          .agg(count(lit(1)).as("n_orders"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"),
            round(sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double"), 2).as("total_price"))
      },
      Some("""SELECT count(*) AS n_orders,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
             |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
             |    AS total_price
             |FROM orders WHERE o_orderpriority = '1-URGENT'""".stripMargin)),

    // The warehouse ANSWER-FROM-METADATA path (round-12 DSv2 aggregate
    // pushdown): global MIN/MAX/COUNT(*) over the load-job table served
    // entirely from manifest zone maps + per-file row counts — the scan
    // plans ZERO data files (WarehouseAggSpec pins lastAggServed /
    // lastPlannedFiles=0); at 100 TB this is a metadata lookup where a
    // naive engine reads the whole table. The oracle recomputes the same
    // aggregates from the source parquet, proving metadata == data.
    // Partial-pushdown contract keeps it result-transparent: Spark's
    // final aggregate merges the one emitted row.
    QueryDef("scan_warehouse_agg",
      (s, dir) => {
        rangeClusteredOrders(s, dir)
          .agg(count(lit(1)).as("n_orders"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"),
            min(col("o_custkey")).as("min_cust"),
            max(col("o_custkey")).as("max_cust"),
            sum(col("o_orderkey")).as("sum_key"),
            count(col("o_custkey")).as("n_cust"))
      },
      Some("""SELECT count(*) AS n_orders,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
             |  min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  count(o_custkey) AS n_cust
             |FROM orders""".stripMargin)),

    // GROUPED answer-from-metadata (round-13, the completion of the
    // round-12 aggregate pushdown): the cluster layout writes ONE cluster
    // value per committed file, so per-file manifest stats are EXACT
    // per-group partials — GROUP BY the cluster key + MIN/MAX/COUNT/SUM
    // is served with zero data files planned (WarehouseAggSpec pins
    // lastPlannedFiles=0 and the non-cluster-grouping refusal). At
    // 100 TB this turns the classic per-partition census — the query
    // every warehouse dashboard opens with — into a manifest lookup.
    QueryDef("scan_warehouse_agg_grouped",
      (s, dir) => {
        val orders = Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_orderpriority", "o_custkey")
        val path = Artifacts.key("wh_ordgrp", dir, orders)
        if (graft.sources.WarehouseMeta.readManifest(path).isEmpty)
          Sink.overwrite(orders.repartition(8, col("o_orderpriority")),
            path, format = "graft-warehouse",
            options = Map("clusterBy" -> "o_orderpriority"))
        Sink.read(s, path, "graft-warehouse")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"),
            sum(col("o_orderkey")).as("sum_key"),
            count(col("o_custkey")).as("n_cust"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n_orders,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
             |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
             |  count(o_custkey) AS n_cust
             |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)),

    // METADATA-ONLY DELETE (round-13): retention expiry as a manifest
    // edit. The fixture clusters orders on bucket = pmod(o_orderkey, 8)
    // (one cluster value per committed file), deletes `bucket = 3` —
    // every file provably full-match or no-match via its zone maps — and
    // aggregates the survivors. The delete commits a new generation
    // (dropped files stay for time travel); WarehouseDeleteSpec pins the
    // partial-predicate refusal and the old generation's readability. At
    // 100 TB, expiring a partition is this manifest edit, not a rewrite.
    QueryDef("sink_warehouse_delete",
      (s, dir) => {
        val orders = Tables.read(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            pmod(col("o_orderkey"), lit(8L)).as("bucket"))
        val path = Artifacts.key("wh_orddel", dir, orders)
        if (graft.sources.WarehouseMeta.readManifest(path).isEmpty)
          Sink.overwrite(orders.repartition(8, col("bucket")), path,
            format = "graft-warehouse",
            options = Map("clusterBy" -> "bucket"))
        if (graft.sources.WarehouseMeta.readManifest(path)
            .exists(_.disposition != "DELETE"))
          graft.sources.WarehouseDelete.deleteWhere(path,
            org.apache.spark.sql.sources.EqualTo("bucket", 3L))
        Sink.read(s, path, "graft-warehouse")
          .agg(count(lit(1)).as("n_orders"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"),
            round(sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double"), 2).as("total_price"))
      },
      Some("""SELECT count(*) AS n_orders,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
             |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |    AS DOUBLE), 2) AS total_price
             |FROM orders WHERE o_orderkey % 8 <> 3""".stripMargin)),

    // LIMIT pushdown (round-13): per-file row counts turn LIMIT n into a
    // FILE-PREFIX plan — only enough files to cover n rows are planned
    // and each reader stops decoding at n (WarehouseStatsSpec pins the
    // 1-file plan for LIMIT 5 over 100-row files and the filtered-limit
    // refusal). LIMIT without ORDER is row-nondeterministic, so the
    // declared gate checks the deterministic face: the exact row COUNT
    // through the pushed limit. Reads the range-clustered orders table.
    QueryDef("scan_warehouse_limit",
      (s, dir) => {
        rangeClusteredOrders(s, dir)
          .limit(777)
          .agg(count(lit(1)).as("n_rows"))
      },
      Some("""SELECT CAST(least(777, (SELECT count(*) FROM orders))
             |  AS BIGINT) AS n_rows""".stripMargin)),

    // TOP-N pushdown (round-13, SupportsPushDownTopN): ORDER BY the
    // range-cluster column + LIMIT plans only the files that can hold
    // the top n — zone disjointness proves every unplanned row orders
    // after every planned one, and Spark's TakeOrdered above picks the
    // exact n (WarehouseStatsSpec pins the 1-file plan and the
    // overlap/null fallbacks). The unique sort key makes the result
    // fully deterministic, so this row value-gates the optimization —
    // "latest 100 orders" at 100 TB reads one zone file. Reads the
    // range-clustered orders table.
    QueryDef("scan_warehouse_topn",
      (s, dir) => {
        rangeClusteredOrders(s, dir)
          .orderBy(col("o_orderkey").desc)
          .limit(100)
          .select("o_orderkey", "o_custkey")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey FROM (
             |  SELECT o_orderkey, o_custkey FROM orders
             |  ORDER BY o_orderkey DESC LIMIT 100)
             |ORDER BY o_orderkey""".stripMargin)),

    // Warehouse OPTIMIZE (round-13; re-planned round-14 onto BIN-PACKING:
    // Maintenance.optimizeWarehouse): only the small-file tail rewrites,
    // the compliant load files carry into the new generation BY REFERENCE
    // (zero IO — verdict r13 #5), one atomic manifest swap, earlier
    // generations time-travel readable. The gate proves BOTH that
    // rows/values survive bit-exactly AND that packing really was
    // partial: n_files = 3 = 2 carried originals + 1 bin (a whole-table
    // rewrite could never leave the originals). MaintenanceSpec pins the
    // carried paths byte-identical, the no-op re-run, and the clustered
    // variant. At 100 TB, OPTIMIZE costs the micro-batch tail's IO, not
    // a table rewrite.
    QueryDef("sink_warehouse_compact",
      (s, dir) => {
        val orders = Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
        val path = Artifacts.key("wh_ordopt", dir, orders)
        // fixture = the steady-state streaming-sink shape: 2 big load
        // files + 6 per-trigger micro-batch appends (tiny residue
        // slices; skip-if-empty may drop a sparse residue — harmless,
        // the table always holds EXACTLY the orders rows)
        if (graft.sources.WarehouseMeta.readManifest(path).isEmpty) {
          Sink.overwrite(orders.filter(col("o_orderkey") % 1000 >= 6)
            .repartition(2), path, format = "graft-warehouse")
          for (i <- 0 until 6)
            Sink.append(orders.filter(col("o_orderkey") % 1000 === i)
              .coalesce(1), path, format = "graft-warehouse")
        }
        // bin-packing OPTIMIZE (round-14): the threshold sits at half the
        // biggest file, so the 2 load files provably carry BY REFERENCE
        // and only the micro-batch tail rewrites — n_files = 3 proves it
        // (a whole-table rewrite could never leave the 2 originals)
        if (graft.sources.WarehouseMeta.readManifest(path)
            .exists(_.disposition != "OPTIMIZE")) {
          val m = graft.sources.WarehouseMeta.readManifest(path).get
          val fsys = graft.sources.WarehouseMeta.fs(path)
          val maxLen = m.files.map(f => fsys.getFileStatus(
            new org.apache.hadoop.fs.Path(path, f)).getLen).max
          graft.ops.Maintenance.optimizeWarehouse(s, path,
            smallBytes = maxLen / 2, targetBytes = 128L << 20)
        }
        val nFiles =
          graft.sources.WarehouseMeta.readManifest(path).get.files.size
        Sink.read(s, path, "graft-warehouse")
          .agg(count(lit(1)).as("n_orders"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"),
            round(sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double"), 2).as("total_price"))
          .withColumn("n_files", lit(nFiles.toLong))
      },
      Some("""SELECT count(*) AS n_orders,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
             |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |    AS DOUBLE), 2) AS total_price,
             |  CAST(3 AS BIGINT) AS n_files
             |FROM orders""".stripMargin)),

    // VACUUM (round-14): retention for the copy-on-write history — the
    // Delta VACUUM / Iceberg expire_snapshots shape. The fixture loads
    // orders (4 files), appends a micro-batch slice, full-compacts to 2
    // files (3 generations on disk, 7 data files), then vacuums to
    // keepGenerations=1: the 5 history-only files physically delete, the
    // live table is bit-exact, and the evidence columns prove disk ==
    // manifest (n_disk_files = n_live_files = 2). WarehouseVacuumSpec
    // pins the dropped-generation refusal, the orphan sweep, and the
    // no-op direction. At 100 TB, retention is what bounds storage: every
    // CoW commit strands whole files, and VACUUM is their only collector.
    QueryDef("sink_warehouse_vacuum",
      (s, dir) => {
        val orders = Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
        val path = Artifacts.key("wh_ordvac", dir, orders)
        if (graft.sources.WarehouseMeta.readManifest(path).isEmpty) {
          Sink.overwrite(orders.repartition(4), path,
            format = "graft-warehouse")
          Sink.append(orders.filter(col("o_orderkey") % 1009 === 0)
            .coalesce(1), path, format = "graft-warehouse")
          graft.ops.Maintenance.compactWarehouse(s, path, targetFiles = 2)
        }
        if (graft.sources.WarehouseMeta.generations(path).size > 1)
          graft.ops.Maintenance.vacuumWarehouse(path, keepGenerations = 1)
        val m = graft.sources.WarehouseMeta.readManifest(path).get
        val fsys = graft.sources.WarehouseMeta.fs(path)
        val nDisk = fsys.listStatus(
          new org.apache.hadoop.fs.Path(path, "data")).toSeq
          .filter(_.isDirectory)
          .map(d => fsys.listStatus(d.getPath).count(_.isFile)).sum
        Sink.read(s, path, "graft-warehouse")
          .agg(count(lit(1)).as("n_rows"),
            round(sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double"), 2).as("total_price"))
          .withColumn("n_live_files", lit(m.files.size.toLong))
          .withColumn("n_disk_files", lit(nDisk.toLong))
      },
      Some("""WITH fin AS (
             |  SELECT o_totalprice AS p FROM orders
             |  UNION ALL
             |  SELECT o_totalprice FROM orders
             |  WHERE o_orderkey % 1009 = 0)
             |SELECT count(*) AS n_rows,
             |  round(CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE), 2)
             |    AS total_price,
             |  CAST(2 AS BIGINT) AS n_live_files,
             |  CAST(2 AS BIGINT) AS n_disk_files
             |FROM fin""".stripMargin)),

    // COPY-ON-WRITE DELETE (round-14): the operation the metadata
    // DELETE's refusal message prescribes, implemented. The fixture
    // clusters orders into 8 key-band files (one band per file — exact
    // zone boundaries); the cut is the MIDPOINT OF BAND 1's ACTUAL KEYS
    // ((min+max)/2 of the band — an earlier max/4 cut could land on a
    // provable boundary under sparse orderkeys, silently degrading to
    // the metadata path at some scales), so the band-1 file is PARTIAL
    // at EVERY scale and the metadata path refuses — WarehouseCow
    // classifies: the full-match band-0 file DROPS as metadata, no-match
    // bands CARRY by reference (path-identical — WarehouseDeleteSpec
    // pins it), and ONLY the straddled band rewrites, committed as one
    // atomic generation. Manifest evidence at sf0.001-sf1: carried=6,
    // dropped=1, rewritten=1 of 8 at every scale. At 100 TB, deleting a
    // key range rewrites the files whose zones straddle the cut, never
    // the table.
    QueryDef("sink_warehouse_delete_cow",
      (s, dir) => {
        val orders = Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
        val path = Artifacts.key("wh_ordcow2", dir, orders)
        val maxK = orders.agg(max(col("o_orderkey"))).head().getLong(0)
        val w = maxK / 8 + 1
        if (graft.sources.WarehouseMeta.readManifest(path).isEmpty)
          Sink.overwrite(
            orders.withColumn("band", expr(s"o_orderkey div $w"))
              .repartition(1),
            path, format = "graft-warehouse",
            options = Map("clusterBy" -> "band"))
        val b1 = orders.filter(expr(s"o_orderkey div $w") === 1)
          .agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
        val cut = (b1.getLong(0) + b1.getLong(1)) / 2
        if (graft.sources.WarehouseMeta.readManifest(path)
            .exists(!_.disposition.startsWith("DELETE")))
          graft.sources.WarehouseCow.deleteWhereCow(s, path,
            org.apache.spark.sql.sources.LessThanOrEqual(
              "o_orderkey", cut))
        Sink.read(s, path, "graft-warehouse")
          .agg(count(lit(1)).as("n_orders"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"),
            round(sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double"), 2).as("total_price"))
      },
      Some("""WITH p AS (SELECT max(o_orderkey) // 8 + 1 AS w FROM orders),
             |c AS (SELECT (min(o_orderkey) + max(o_orderkey)) // 2 AS cut
             |      FROM orders WHERE o_orderkey // (SELECT w FROM p) = 1)
             |SELECT count(*) AS n_orders,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
             |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |    AS DOUBLE), 2) AS total_price
             |FROM orders
             |WHERE o_orderkey > (SELECT cut FROM c)""".stripMargin)),

    // COPY-ON-WRITE MERGE (round-14): ops/Merge.applyChangelog's CDC
    // semantics (op ∈ I/U/D, highest-seq wins, winning D removes the
    // key) at the warehouse boundary. A deterministic changelog derived
    // from orders itself, SCOPED TO BANDS 0-2 (a daily CDC batch touches
    // a key range, not the whole table — an earlier unscoped changelog
    // hit every band and the fixture degenerated to a full rewrite):
    // updates (+1000.00 on keys ≡0 mod 97 in bands 0-2), deletes (keys
    // ≡0 mod 131 in bands 0-2; D-beats-earlier-U on the overlap),
    // inserts (new keys offset past max(o_orderkey) — provably
    // collision-free at EVERY scale). WarehouseCow classifies: bands 0-2
    // rewrite (survivor anti-join ∪ changelog winners), bands 3-7 CARRY
    // by reference — manifest evidence: carried=5 of 8 at every scale
    // (WarehouseMergeSpec pins carriage, the interval fallback, and
    // D-then-I resurrection). At 100 TB, a daily CDC batch rewrites the
    // files its keys touch, never the table.
    QueryDef("sink_warehouse_merge",
      (s, dir) => {
        val orders = Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
        val path = Artifacts.key("wh_ordmrg2", dir, orders)
        val maxK = orders.agg(max(col("o_orderkey"))).head().getLong(0)
        val w = maxK / 8 + 1
        def banded(df: org.apache.spark.sql.DataFrame) =
          df.withColumn("band", expr(s"o_orderkey div $w"))
        if (graft.sources.WarehouseMeta.readManifest(path).isEmpty)
          Sink.overwrite(banded(orders).repartition(1), path,
            format = "graft-warehouse",
            options = Map("clusterBy" -> "band"))
        if (graft.sources.WarehouseMeta.readManifest(path)
            .exists(_.disposition != "MERGE")) {
          val upd = banded(orders.filter(col("o_orderkey") % 97 === 0 &&
            expr(s"o_orderkey div $w") <= 2)
            .withColumn("o_totalprice", col("o_totalprice") + 1000.0))
            .withColumn("op", lit("U")).withColumn("seq", lit(1L))
          val del = banded(orders.filter(col("o_orderkey") % 131 === 0 &&
            expr(s"o_orderkey div $w") <= 2))
            .withColumn("op", lit("D")).withColumn("seq", lit(2L))
          val ins = banded(orders.filter(col("o_orderkey") % 201 === 0)
            .withColumn("o_orderkey", col("o_orderkey") + maxK + 1L)
            .withColumn("o_totalprice", lit(1.0)))
            .withColumn("op", lit("I")).withColumn("seq", lit(1L))
          graft.sources.WarehouseMerge.applyChangelogCow(s, path,
            upd.unionByName(del).unionByName(ins),
            key = "o_orderkey", seqCol = "seq", opCol = "op")
        }
        Sink.read(s, path, "graft-warehouse")
          .agg(count(lit(1)).as("n_rows"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"),
            round(sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double"), 2).as("total_price"))
      },
      Some("""WITH p AS (SELECT max(o_orderkey) // 8 + 1 AS w FROM orders),
             |fin AS (
             |  SELECT o_orderkey AS k,
             |    CASE WHEN o_orderkey % 97 = 0
             |          AND o_orderkey // (SELECT w FROM p) <= 2
             |         THEN o_totalprice + 1000.0
             |         ELSE o_totalprice END AS p
             |  FROM orders
             |  WHERE NOT (o_orderkey % 131 = 0
             |             AND o_orderkey // (SELECT w FROM p) <= 2)
             |  UNION ALL
             |  SELECT o_orderkey + (SELECT max(o_orderkey) + 1
             |                       FROM orders), 1.0
             |  FROM orders WHERE o_orderkey % 201 = 0)
             |SELECT count(*) AS n_rows,
             |  min(k) AS min_key, max(k) AS max_key,
             |  round(CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE), 2)
             |    AS total_price
             |FROM fin""".stripMargin)),

    // STREAMING CDC MERGE (round-14): the warehouse MERGE driven by the
    // stream engine — three changelog waves (updates seq=1, deletes
    // seq=2, inserts seq=3) land as parquet files, and
    // Streams.warehouseMergeStream applies each micro-batch as ONE
    // atomic copy-on-write MERGE generation (AvailableNow + checkpoint:
    // a crashed run resumes, a replay applies nothing twice —
    // WarehouseMergeStreamSpec pins per-wave generations, carriage, and
    // replay). Seqs are GLOBALLY monotone across waves, so the final
    // state is identical whether the source batches waves singly or
    // together — which is what makes the oracle deterministic. At
    // 100 TB this is the production CDC loop: a binlog shipper drops
    // files, each trigger rewrites only the files its keys zone-hit.
    QueryDef("stream_warehouse_merge",
      (s, dir) => {
        val orders = Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
        val path = Artifacts.key("wh_ordcdc", dir, orders)
        val maxK = orders.agg(max(col("o_orderkey"))).head().getLong(0)
        val w = maxK / 8 + 1
        def banded(df: org.apache.spark.sql.DataFrame) =
          df.withColumn("band", expr(s"o_orderkey div $w"))
        if (graft.sources.WarehouseMeta.readManifest(path).isEmpty)
          Sink.overwrite(banded(orders).repartition(1), path,
            format = "graft-warehouse",
            options = Map("clusterBy" -> "band"))
        val logDir = s"$path/_cdc_log"
        if (!graft.sources.WarehouseMeta.fs(path)
            .exists(new org.apache.hadoop.fs.Path(logDir))) {
          def wv(df: org.apache.spark.sql.DataFrame, op: String, seq: Long,
              mode: String): Unit =
            df.withColumn("op", lit(op)).withColumn("seq", lit(seq))
              .coalesce(1).write.mode(mode).parquet(logDir)
          wv(banded(orders.filter(col("o_orderkey") % 89 === 0)
            .withColumn("o_totalprice", col("o_totalprice") + 2000.0)),
            "U", 1L, "overwrite")
          wv(banded(orders.filter(col("o_orderkey") % 127 === 0)),
            "D", 2L, "append")
          wv(banded(orders.filter(col("o_orderkey") % 211 === 0)
            .withColumn("o_orderkey", col("o_orderkey") + maxK + 1L)
            .withColumn("o_totalprice", lit(2.0))),
            "I", 3L, "append")
        }
        // always drive the stream: with no unseen changelog files this is
        // a zero-trigger no-op (replay-safe), and after a partial crash
        // it completes the remaining waves from the checkpoint
        graft.streaming.Streams.warehouseMergeStream(s, logDir, path,
          key = "o_orderkey", seqCol = "seq", opCol = "op",
          checkpoint = s"$path/_cdc_checkpoint").awaitTermination()
        Sink.read(s, path, "graft-warehouse")
          .agg(count(lit(1)).as("n_rows"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"),
            round(sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double"), 2).as("total_price"))
      },
      Some("""WITH fin AS (
             |  SELECT o_orderkey AS k,
             |    CASE WHEN o_orderkey % 89 = 0
             |         THEN o_totalprice + 2000.0
             |         ELSE o_totalprice END AS p
             |  FROM orders WHERE o_orderkey % 127 <> 0
             |  UNION ALL
             |  SELECT o_orderkey + (SELECT max(o_orderkey) + 1
             |                       FROM orders), 2.0
             |  FROM orders WHERE o_orderkey % 211 = 0)
             |SELECT count(*) AS n_rows,
             |  min(k) AS min_key, max(k) AS max_key,
             |  round(CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE), 2)
             |    AS total_price
             |FROM fin""".stripMargin)),

    // STREAMING SOURCE over the warehouse table format (round-14): the
    // readStream face tails the generation log — each trigger plans ONLY
    // the files the next commit added (offset = generation number), so a
    // 100 TB table streams its delta per trigger with one manifest diff
    // of driver work and zero directory listing. The fixture loads three
    // APPEND generations; `Trigger.AvailableNow` drains and terminates.
    // The aggregate must equal the batch answer over the whole table —
    // the incremental read missed nothing, duplicated nothing
    // (WarehouseStreamSourceSpec pins per-commit batch increments under
    // maxGenerationsPerTrigger, checkpoint replay, delete/evolve
    // refusal directions, and that OPTIMIZE commits emit nothing).
    QueryDef("stream_warehouse_source",
      (s, dir) => {
        val orders = Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
        val path = Artifacts.key("wh_ordstream", dir, orders)
        val maxK = orders.agg(max(col("o_orderkey"))).head().getLong(0)
        val w = maxK / 8 + 1
        val banded = orders.withColumn("band", expr(s"o_orderkey div $w"))
        if (graft.sources.WarehouseMeta.readManifest(path).isEmpty) {
          Sink.overwrite(banded.filter(col("band") <= 2).repartition(2),
            path, format = "graft-warehouse")
          Sink.append(banded.filter(col("band").between(3, 5))
            .repartition(2), path, format = "graft-warehouse")
          Sink.append(banded.filter(col("band") >= 6).repartition(2),
            path, format = "graft-warehouse")
        }
        val qn = s"wh_stream_src_${java.util.UUID.randomUUID()
          .toString.replace("-", "")}"
        // the band domain is ≤9 values by construction at every SF —
        // state partitions track the key domain, not the core count
        // (see Streams.withStatePartitions)
        graft.streaming.Streams.withStatePartitions(s, 9) {
          val q = s.readStream.format("graft-warehouse")
            .load(path)
            .groupBy("band")
            .agg(count(lit(1)).as("n_rows"),
              round(sum(col("o_totalprice").cast("decimal(18,2)"))
                .cast("double"), 2).as("total_price"))
            .writeStream.format("memory").queryName(qn)
            .outputMode("complete")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        s.table(qn).orderBy("band")
      },
      Some("""SELECT o_orderkey
             |    // ((SELECT max(o_orderkey) FROM orders) // 8 + 1)
             |    AS band,
             |  count(*) AS n_rows,
             |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |    AS DOUBLE), 2) AS total_price
             |FROM orders GROUP BY band ORDER BY band""".stripMargin)),

    // SQL ROW-LEVEL DML (round-14): MERGE INTO and UPDATE as
    // group-based copy-on-write via Spark's SupportsRowLevelOperations —
    // the operation's scan plans candidate files with the same zone/bloom
    // pruning as any read, Spark feeds every row of those files through
    // the merge clauses / SET exprs (rows arrive marker-prefixed per the
    // ReplaceData protocol), and the commit atomically REPLACES exactly
    // the scanned files; everything else carries by reference. The tour:
    // MERGE (matched UPDATE, matched DELETE, not-matched INSERT with
    // disjoint key classes) then a band-scoped UPDATE; the oracle
    // recomputes the final state from orders expressions
    // (WarehouseSqlDmlSpec pins carried-by-path file scoping, the no-op
    // no-match UPDATE, CDC classification of the commit, and cluster
    // layout survival).
    QueryDef("catalog_sql_merge",
      (s, dir) => {
        val orders = Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
        val fp = Artifacts.fingerprint(orders)
        val path = Artifacts.key("wh_ordmrg", dir, orders)
        val cat = s"gmrg_$fp"
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", path)
        val maxK = orders.agg(max(col("o_orderkey"))).head().getLong(0)
        val w = maxK / 8 + 1
        val tbl = s"$cat.db.orders"
        val done = graft.sources.WarehouseMeta
          .readManifest(s"$path/db/orders")
          .exists(_.disposition == "UPDATE_COW")
        if (!done) {
          val fs = graft.sources.WarehouseMeta.fs(path)
          fs.delete(new org.apache.hadoop.fs.Path(path), true)
          s.sql(s"CREATE TABLE $tbl (o_orderkey BIGINT, " +
            "o_totalprice DOUBLE, band BIGINT) PARTITIONED BY (band)")
          val vw = s"ord_mrg_$fp"
          orders.createOrReplaceTempView(vw)
          s.sql(s"INSERT INTO $tbl SELECT /*+ REPARTITION(2) */ " +
            s"o_orderkey, o_totalprice, o_orderkey DIV $w FROM $vw")
          s.sql(
            s"""MERGE INTO $tbl t
               |USING (
               |  SELECT o_orderkey AS k, o_totalprice + 2000.0 AS p,
               |    o_orderkey DIV $w AS band, 'U' AS op
               |  FROM $vw WHERE o_orderkey % 89 = 0
               |    AND o_orderkey % 127 <> 0
               |  UNION ALL
               |  SELECT o_orderkey, 0.0, o_orderkey DIV $w, 'D'
               |  FROM $vw WHERE o_orderkey % 127 = 0
               |  UNION ALL
               |  SELECT o_orderkey + $maxK + 1L, 2.0,
               |    o_orderkey DIV $w, 'I'
               |  FROM $vw WHERE o_orderkey % 211 = 0
               |) s
               |ON t.o_orderkey = s.k
               |WHEN MATCHED AND s.op = 'D' THEN DELETE
               |WHEN MATCHED THEN UPDATE SET o_totalprice = s.p
               |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice,
               |  band) VALUES (s.k, s.p, s.band)""".stripMargin)
          s.sql(s"UPDATE $tbl SET o_totalprice = o_totalprice + 1000.0 " +
            "WHERE band = 0")
        }
        s.sql(
          s"""SELECT band, count(*) AS n_rows,
             |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |    AS DOUBLE), 2) AS total_price
             |FROM $tbl GROUP BY band ORDER BY band""".stripMargin)
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey AS k, o_totalprice AS p,
             |    o_orderkey
             |      // ((SELECT max(o_orderkey) FROM orders) // 8 + 1)
             |      AS band
             |  FROM orders),
             |merged AS (
             |  SELECT k,
             |    CASE WHEN k % 89 = 0 THEN p + 2000.0 ELSE p END AS p,
             |    band
             |  FROM base WHERE k % 127 <> 0
             |  UNION ALL
             |  SELECT k + (SELECT max(o_orderkey) + 1 FROM orders),
             |    2.0, band
             |  FROM base WHERE k % 211 = 0),
             |fin AS (
             |  SELECT k,
             |    CASE WHEN band = 0 THEN p + 1000.0 ELSE p END AS p,
             |    band
             |  FROM merged)
             |SELECT band, count(*) AS n_rows,
             |  round(CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE), 2)
             |    AS total_price
             |FROM fin GROUP BY band ORDER BY band""".stripMargin)),

    // MERGE-ON-READ DELETION VECTORS (round-14): the third delete tier.
    // Copy-on-write rewrites whole files to delete scattered rows — at
    // 100 TB, deleting 0.1% of a thousand-file table that way rewrites
    // the table. A deletion vector marks the matching ORDINALS in a
    // per-file bitmap sidecar instead; readers skip them, COUNT stays
    // metadata-exact (live = frows − marked), and OPTIMIZE materializes
    // vectors back to clean files. The tour: a zone-provable band drops
    // as metadata, then a key-range predicate that straddles the top
    // band commits a bitmap (zero data-file changes — WarehouseDvSpec
    // pins the unchanged file set, idempotent bitmap unions, serve
    // refusal directions, CDC delete emission, OPTIMIZE
    // materialization, and vacuum hygiene).
    QueryDef("sink_warehouse_delete_mor",
      (s, dir) => {
        val orders = Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
        val path = Artifacts.key("wh_ordmor", dir, orders)
        val maxK = orders.agg(max(col("o_orderkey"))).head().getLong(0)
        val w = maxK / 8 + 1
        val thr = maxK - w / 2
        val banded = orders.withColumn("band", expr(s"o_orderkey div $w"))
        val done = graft.sources.WarehouseMeta.readManifest(path)
          .exists(m => m.generation == 2L && m.disposition == "DELETE_DV")
        if (!done) {
          val fs = graft.sources.WarehouseMeta.fs(path)
          fs.delete(new org.apache.hadoop.fs.Path(path), true)
          Sink.overwrite(banded.repartition(1), path,
            format = "graft-warehouse",
            options = Map("clusterBy" -> "band"))
          // tier 1: zone-provable full band -> metadata drop
          graft.sources.WarehouseDv.deleteWhereDv(s, path,
            org.apache.spark.sql.sources.EqualTo("band", 0L))
          // tier 2: straddles only the top band's file -> bitmap commit
          graft.sources.WarehouseDv.deleteWhereDv(s, path,
            org.apache.spark.sql.sources.GreaterThan("o_orderkey", thr))
        }
        Sink.read(s, path, "graft-warehouse")
          .groupBy("band")
          .agg(count(lit(1)).as("n_rows"),
            round(sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double"), 2).as("total_price"))
          .orderBy("band")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey AS k, o_totalprice AS p,
             |    o_orderkey
             |      // ((SELECT max(o_orderkey) FROM orders) // 8 + 1)
             |      AS band
             |  FROM orders)
             |SELECT band, count(*) AS n_rows,
             |  round(CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE), 2)
             |    AS total_price
             |FROM base
             |WHERE band <> 0
             |  AND k <= (SELECT max(o_orderkey)
             |      - (((SELECT max(o_orderkey) FROM orders) // 8 + 1)
             |        // 2)
             |    FROM orders)
             |GROUP BY band ORDER BY band""".stripMargin)),

    // MERGE-ON-READ UPDATE (round-14): the symmetric counterpart of the
    // deletion-vector delete — matching rows are VECTORED OUT of their
    // files and re-appended with the SET applied, one atomic UPDATE_MOR
    // generation whose write cost is the updated rows plus one bitmap
    // per touched file (a CoW update would rewrite every straddled file
    // in full). The change feed classifies the commit as exact
    // update_preimage (newly-marked ordinals) + update_postimage
    // (appended rows); OPTIMIZE later materializes the vectors away
    // (WarehouseDvSpec pins the two-file shape, compound-update
    // chaining over both legs, and exact typed feed rows).
    QueryDef("sink_warehouse_update_mor",
      (s, dir) => {
        val orders = Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
        val path = Artifacts.key("wh_ordumor", dir, orders)
        val maxK = orders.agg(max(col("o_orderkey"))).head().getLong(0)
        val w = maxK / 8 + 1
        val banded = orders.withColumn("band", expr(s"o_orderkey div $w"))
        val done = graft.sources.WarehouseMeta.readManifest(path)
          .exists(_.disposition == "UPDATE_MOR")
        if (!done) {
          val fs = graft.sources.WarehouseMeta.fs(path)
          fs.delete(new org.apache.hadoop.fs.Path(path), true)
          Sink.overwrite(banded.repartition(1), path,
            format = "graft-warehouse",
            options = Map("clusterBy" -> "band"))
          graft.sources.WarehouseDv.updateWhereMor(s, path,
            org.apache.spark.sql.sources.LessThanOrEqual("band", 1L),
            Map("o_totalprice" -> "o_totalprice + 500.0d"))
        }
        Sink.read(s, path, "graft-warehouse")
          .groupBy("band")
          .agg(count(lit(1)).as("n_rows"),
            round(sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double"), 2).as("total_price"))
          .orderBy("band")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey AS k,
             |    o_totalprice AS p,
             |    o_orderkey
             |      // ((SELECT max(o_orderkey) FROM orders) // 8 + 1)
             |      AS band
             |  FROM orders)
             |SELECT band, count(*) AS n_rows,
             |  round(CAST(sum(CAST(
             |    CASE WHEN band <= 1 THEN p + 500.0 ELSE p END
             |    AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price
             |FROM base GROUP BY band ORDER BY band""".stripMargin)),

    // CHANGE DATA FEED (round-14): what changed between two committed
    // generations, derived METADATA-FIRST from manifest diffs — append
    // commits serve inserts from exactly their added files, metadata
    // deletes serve the dropped files (time travel keeps them readable),
    // and CoW updates pay one EXCEPT-ALL diff over ONLY the rewritten
    // files. The fixture drives the full CRUD tour (load, append, CoW
    // UPDATE, metadata DELETE) and folds the typed feed to counts + sums
    // the oracle derives independently from the orders expressions. At
    // 100 TB, the feed of a day of commits reads the day's delta files,
    // never the table (WarehouseCdcSpec pins exact change rows, MERGE
    // key-classification, positional ALTER alignment, and that OPTIMIZE
    // emits nothing).
    QueryDef("scan_warehouse_changes",
      (s, dir) => {
        val orders = Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
        val path = Artifacts.key("wh_ordcdf", dir, orders)
        val maxK = orders.agg(max(col("o_orderkey"))).head().getLong(0)
        val w = maxK / 8 + 1
        val banded = orders.withColumn("band", expr(s"o_orderkey div $w"))
        val done = graft.sources.WarehouseMeta.readManifest(path)
          .exists(m => m.generation == 3L && m.disposition == "DELETE")
        if (!done) {
          // wipe any partial build: the feed needs the exact 4-gen tour
          val fs = graft.sources.WarehouseMeta.fs(path)
          fs.delete(new org.apache.hadoop.fs.Path(path), true)
          Sink.overwrite(banded.filter(col("band") <= 3).repartition(1),
            path, format = "graft-warehouse",
            options = Map("clusterBy" -> "band"))
          Sink.append(banded.filter(col("band") >= 4).repartition(1),
            path, format = "graft-warehouse",
            options = Map("clusterBy" -> "band"))
          graft.sources.WarehouseCow.updateWhereCow(s, path,
            org.apache.spark.sql.sources.LessThanOrEqual("band", 1L),
            Map("o_totalprice" -> "o_totalprice + 500.0d"))
          graft.sources.WarehouseDelete.deleteWhere(path,
            org.apache.spark.sql.sources.EqualTo("band", 0L))
        }
        graft.sources.WarehouseCdc.tableChanges(s, path, 0L, 3L)
          .groupBy(col("_change_type").as("change_type"),
            col("_commit_generation").as("gen"))
          .agg(count(lit(1)).as("n_rows"),
            round(sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double"), 2).as("total_price"))
          .orderBy("gen", "change_type")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey
             |      // ((SELECT max(o_orderkey) FROM orders) // 8 + 1)
             |      AS band,
             |    o_totalprice AS p
             |  FROM orders)
             |SELECT * FROM (
             |  SELECT 'insert' AS change_type, CAST(1 AS BIGINT) AS gen,
             |    count(*) AS n_rows,
             |    round(CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE), 2)
             |      AS total_price
             |  FROM base WHERE band >= 4
             |  UNION ALL
             |  SELECT 'update_preimage', CAST(2 AS BIGINT), count(*),
             |    round(CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE), 2)
             |  FROM base WHERE band <= 1
             |  UNION ALL
             |  SELECT 'update_postimage', CAST(2 AS BIGINT), count(*),
             |    round(CAST(sum(CAST(p + 500.0 AS DECIMAL(18,2)))
             |      AS DOUBLE), 2)
             |  FROM base WHERE band <= 1
             |  UNION ALL
             |  SELECT 'delete', CAST(3 AS BIGINT), count(*),
             |    round(CAST(sum(CAST(p + 500.0 AS DECIMAL(18,2)))
             |      AS DOUBLE), 2)
             |  FROM base WHERE band = 0
             |) ORDER BY gen, change_type""".stripMargin)),

    // METADATA COLUMNS (round-14): `_file` / `_pos` give every row a
    // durable physical address — the file it lives in and its ordinal
    // there (the SAME ordinal deletion vectors mark, so it is stable
    // across DV commits). They materialize only when projected: the
    // fixture's one-band-per-file layout makes the per-band shape fully
    // deterministic (one distinct file, ordinals 0..n-1), which the
    // oracle recomputes from orders counts alone.
    QueryDef("scan_warehouse_metadata_cols",
      (s, dir) => {
        val orders = Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
        val path = Artifacts.key("wh_ordmeta", dir, orders)
        val maxK = orders.agg(max(col("o_orderkey"))).head().getLong(0)
        val w = maxK / 8 + 1
        if (graft.sources.WarehouseMeta.readManifest(path).isEmpty)
          Sink.overwrite(orders
            .withColumn("band", expr(s"o_orderkey div $w"))
            .repartition(1), path, format = "graft-warehouse",
            options = Map("clusterBy" -> "band"))
        Sink.read(s, path, "graft-warehouse")
          .select(col("band"), col("_file"), col("_pos"))
          .groupBy("band")
          .agg(countDistinct(col("_file")).as("n_files"),
            count(lit(1)).as("n_rows"),
            min(col("_pos")).as("min_pos"),
            max(col("_pos")).as("max_pos"))
          .orderBy("band")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey
             |      // ((SELECT max(o_orderkey) FROM orders) // 8 + 1)
             |      AS band
             |  FROM orders)
             |SELECT band, CAST(1 AS BIGINT) AS n_files,
             |  count(*) AS n_rows, CAST(0 AS BIGINT) AS min_pos,
             |  count(*) - 1 AS max_pos
             |FROM base GROUP BY band ORDER BY band""".stripMargin)),

    // TABLE HISTORY (round-14): DESCRIBE HISTORY off the generation log
    // — one metadata row per retained generation (disposition + exact
    // live row count), zero data IO. The fixture reuses the CRUD tour
    // shape (load, append, CoW update, metadata delete) so every live
    // count is an orders expression the oracle recomputes; commit
    // timestamps and jobIds are real but non-deterministic, so the
    // declared query projects the deterministic columns (the API
    // surfaces all of them).
    QueryDef("scan_warehouse_history",
      (s, dir) => {
        val orders = Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
        val path = Artifacts.key("wh_ordhist", dir, orders)
        val maxK = orders.agg(max(col("o_orderkey"))).head().getLong(0)
        val w = maxK / 8 + 1
        val banded = orders.withColumn("band", expr(s"o_orderkey div $w"))
        val done = graft.sources.WarehouseMeta.readManifest(path)
          .exists(m => m.generation == 3L && m.disposition == "DELETE")
        if (!done) {
          val fs = graft.sources.WarehouseMeta.fs(path)
          fs.delete(new org.apache.hadoop.fs.Path(path), true)
          Sink.overwrite(banded.filter(col("band") <= 3).repartition(1),
            path, format = "graft-warehouse",
            options = Map("clusterBy" -> "band"))
          Sink.append(banded.filter(col("band") >= 4).repartition(1),
            path, format = "graft-warehouse",
            options = Map("clusterBy" -> "band"))
          graft.sources.WarehouseCow.updateWhereCow(s, path,
            org.apache.spark.sql.sources.LessThanOrEqual("band", 1L),
            Map("o_totalprice" -> "o_totalprice + 500.0d"))
          graft.sources.WarehouseDelete.deleteWhere(path,
            org.apache.spark.sql.sources.EqualTo("band", 0L))
        }
        graft.sources.WarehouseCdc.history(s, path)
          .select("generation", "disposition", "n_live_rows")
          .orderBy("generation")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey
             |      // ((SELECT max(o_orderkey) FROM orders) // 8 + 1)
             |      AS band
             |  FROM orders)
             |SELECT * FROM (
             |  SELECT CAST(0 AS BIGINT) AS generation,
             |    'WRITE_TRUNCATE' AS disposition,
             |    count(*) AS n_live_rows
             |  FROM base WHERE band <= 3
             |  UNION ALL
             |  SELECT CAST(1 AS BIGINT), 'WRITE_APPEND', count(*)
             |  FROM base
             |  UNION ALL
             |  SELECT CAST(2 AS BIGINT), 'UPDATE_COW', count(*)
             |  FROM base
             |  UNION ALL
             |  SELECT CAST(3 AS BIGINT), 'DELETE', count(*)
             |  FROM base WHERE band <> 0
             |) ORDER BY generation""".stripMargin)),

    // BLOOM-FILTER FILE SKIPPING (round-14): point lookups on a
    // high-cardinality, non-clustered column are the case zone maps
    // cannot prune — a hash-scattered load leaves every file's
    // [min,max] spanning the whole key domain. The fixture loads orders
    // hash-scattered across 8 files with a per-file bloom sidecar on
    // o_orderkey (the parquet row-group bloom / Iceberg puffin shape);
    // the probe IN-lookup then plans only the files that might hold the
    // sought keys — including proving a missing key touches ZERO files
    // (WarehouseBloomSpec pins planned-file counts, runtime DPP probes,
    // table-sticky inheritance through append/CoW/OPTIMIZE, and VACUUM
    // sidecar hygiene).
    QueryDef("scan_warehouse_bloom_pruned",
      (s, dir) => {
        val orders = Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
        val path = Artifacts.key("wh_ordbloom", dir, orders)
        if (graft.sources.WarehouseMeta.readManifest(path).isEmpty)
          Sink.overwrite(orders.repartition(8), path,
            format = "graft-warehouse",
            options = Map("bloomFilters" -> "o_orderkey",
              "bloomBits" -> (1 << 21).toString))
        val Array(kMin, kMax) = orders
          .agg(min(col("o_orderkey")), max(col("o_orderkey"))).head() match {
          case r => Array(r.getLong(0), r.getLong(1))
        }
        val kMid = orders.filter(col("o_orderkey") <= kMax / 2)
          .agg(max(col("o_orderkey"))).head().getLong(0)
        Sink.read(s, path, "graft-warehouse")
          .filter(col("o_orderkey")
            .isin(kMin, kMid, kMax, kMax + 12345L)) // last one: proven-absent
          .orderBy("o_orderkey")
      },
      Some("""WITH ks AS (
             |  SELECT min(o_orderkey) AS k FROM orders
             |  UNION ALL SELECT max(o_orderkey) FROM orders
             |  UNION ALL SELECT max(o_orderkey) FROM orders
             |    WHERE o_orderkey <= (SELECT max(o_orderkey) // 2
             |                         FROM orders))
             |SELECT o_orderkey, o_totalprice FROM orders
             |WHERE o_orderkey IN (SELECT k FROM ks)
             |ORDER BY o_orderkey""".stripMargin)),

    // STREAMING CHANGE FEED (round-14): `readChangeFeed=true` turns the
    // warehouse stream into typed change rows — appends arrive as
    // `insert`, a metadata DELETE's dropped rows arrive as `delete`
    // (read via time travel, NOT a refusal), and row-preserving
    // maintenance emits nothing, all file-granular (per-trigger work ∝
    // the commit's delta). The fixture appends two halves then
    // metadata-deletes the low band; the feed folds to per-type
    // counts/sums the oracle recomputes from orders
    // (WarehouseStreamCdcSpec pins exact typed rows, the CoW refusal
    // toward the batch API, and meta-column pruning).
    QueryDef("stream_warehouse_changes",
      (s, dir) => {
        val orders = Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
        val path = Artifacts.key("wh_ordscdf", dir, orders)
        val maxK = orders.agg(max(col("o_orderkey"))).head().getLong(0)
        val w = maxK / 8 + 1
        val banded = orders.withColumn("band", expr(s"o_orderkey div $w"))
        val done = graft.sources.WarehouseMeta.readManifest(path)
          .exists(m => m.generation == 2L && m.disposition == "DELETE")
        if (!done) {
          val fs = graft.sources.WarehouseMeta.fs(path)
          fs.delete(new org.apache.hadoop.fs.Path(path), true)
          Sink.overwrite(banded.filter(col("band") <= 3).repartition(1),
            path, format = "graft-warehouse",
            options = Map("clusterBy" -> "band"))
          Sink.append(banded.filter(col("band") >= 4).repartition(1),
            path, format = "graft-warehouse",
            options = Map("clusterBy" -> "band"))
          graft.sources.WarehouseDelete.deleteWhere(path,
            org.apache.spark.sql.sources.EqualTo("band", 0L))
        }
        val qn = s"wh_stream_cdf_${java.util.UUID.randomUUID()
          .toString.replace("-", "")}"
        // the key domain is (change_type, generation) over a 3-commit
        // fixture — ≤6 distinct keys at every SF; state partitions
        // track the key domain (see Streams.withStatePartitions)
        graft.streaming.Streams.withStatePartitions(s, 9) {
          val q = s.readStream.format("graft-warehouse")
            .option("readChangeFeed", "true")
            .load(path)
            .groupBy(col("_change_type").as("change_type"),
              col("_commit_generation").as("gen"))
            .agg(count(lit(1)).as("n_rows"),
              round(sum(col("o_totalprice").cast("decimal(18,2)"))
                .cast("double"), 2).as("total_price"))
            .writeStream.format("memory").queryName(qn)
            .outputMode("complete")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        s.table(qn).orderBy("gen", "change_type")
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey
             |      // ((SELECT max(o_orderkey) FROM orders) // 8 + 1)
             |      AS band,
             |    o_totalprice AS p
             |  FROM orders)
             |SELECT * FROM (
             |  SELECT 'insert' AS change_type, CAST(0 AS BIGINT) AS gen,
             |    count(*) AS n_rows,
             |    round(CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE), 2)
             |      AS total_price
             |  FROM base WHERE band <= 3
             |  UNION ALL
             |  SELECT 'insert', CAST(1 AS BIGINT), count(*),
             |    round(CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE), 2)
             |  FROM base WHERE band >= 4
             |  UNION ALL
             |  SELECT 'delete', CAST(2 AS BIGINT), count(*),
             |    round(CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE), 2)
             |  FROM base WHERE band = 0
             |) ORDER BY gen, change_type""".stripMargin)),

    // SQL CATALOG (round-14): the warehouse format as a Spark
    // TableCatalog — CREATE TABLE ... PARTITIONED BY, INSERT INTO (an
    // atomic load-job generation, cluster-splitting with zero options),
    // DELETE FROM (metadata tier), and VERSION AS OF time travel, all
    // from plain SQL against a path-backed catalog with no service
    // state. The query runs the tour and folds the final table + a
    // pre-delete time-travel read to per-band aggregates the oracle
    // recomputes from orders (GraftCatalogSpec pins DDL round trips,
    // layout/bloom property plumbing, zero-IO ALTERs, the DELETE
    // metadata→CoW tiers, and RENAME/DROP).
    QueryDef("catalog_sql_warehouse",
      (s, dir) => {
        val orders = Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
        val fp = Artifacts.fingerprint(orders)
        val path = Artifacts.key("wh_ordcat", dir, orders)
        val cat = s"gcat_$fp"
        s.conf.set(s"spark.sql.catalog.$cat",
          "graft.sources.GraftCatalog")
        s.conf.set(s"spark.sql.catalog.$cat.warehouse", path)
        val maxK = orders.agg(max(col("o_orderkey"))).head().getLong(0)
        val w = maxK / 8 + 1
        val tbl = s"$cat.db.orders"
        val done = graft.sources.WarehouseMeta
          .readManifest(s"$path/db/orders")
          .exists(m => m.generation == 2L && m.disposition == "DELETE")
        if (!done) {
          val fs = graft.sources.WarehouseMeta.fs(path)
          fs.delete(new org.apache.hadoop.fs.Path(path), true)
          s.sql(s"CREATE TABLE $tbl (o_orderkey BIGINT, " +
            "o_totalprice DOUBLE, band BIGINT) PARTITIONED BY (band)")
          val vw = s"ord_cat_$fp"
          orders.createOrReplaceTempView(vw)
          s.sql(s"INSERT INTO $tbl SELECT /*+ REPARTITION(2) */ " +
            s"o_orderkey, o_totalprice, o_orderkey DIV $w FROM $vw")
          s.sql(s"DELETE FROM $tbl WHERE band = 0")
        }
        s.sql(
          s"""SELECT band,
             |  count(*) AS n_rows,
             |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |    AS DOUBLE), 2) AS total_price
             |FROM $tbl GROUP BY band
             |UNION ALL
             |SELECT -1L AS band, count(*) AS n_rows,
             |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |    AS DOUBLE), 2) AS total_price
             |FROM $tbl VERSION AS OF 1
             |ORDER BY band""".stripMargin)
      },
      Some("""WITH base AS (
             |  SELECT o_orderkey
             |      // ((SELECT max(o_orderkey) FROM orders) // 8 + 1)
             |      AS band,
             |    o_totalprice AS p
             |  FROM orders)
             |SELECT * FROM (
             |  SELECT band, count(*) AS n_rows,
             |    round(CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE), 2)
             |      AS total_price
             |  FROM base WHERE band >= 1 GROUP BY band
             |  UNION ALL
             |  SELECT CAST(-1 AS BIGINT), count(*),
             |    round(CAST(sum(CAST(p AS DECIMAL(18,2))) AS DOUBLE), 2)
             |  FROM base
             |) ORDER BY band""".stripMargin)),

    // STREAMING SINK (round-14): `writeStream.format("graft-warehouse")`
    // — one epoch = one atomic load-job generation, exactly-once across
    // checkpoint restarts (deterministic `stream_<queryId>_epoch<N>`
    // jobIds make a replayed commit a detected no-op). The fixture
    // streams a 3-commit warehouse SOURCE table into a warehouse SINK
    // table (the format feeding itself end-to-end), then batch-reads the
    // sink — the aggregate must equal the batch answer over orders:
    // nothing lost, nothing doubled through the stream
    // (WarehouseStreamSinkSpec pins per-epoch generations, idempotent
    // replay, layout/bloom inheritance, and complete-mode snapshots).
    QueryDef("stream_warehouse_sink",
      (s, dir) => {
        val orders = Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
        val src = Artifacts.key("wh_ordsink_src", dir, orders)
        val dst = Artifacts.key("wh_ordsink_dst", dir, orders)
        val maxK = orders.agg(max(col("o_orderkey"))).head().getLong(0)
        val w = maxK / 8 + 1
        val banded = orders.withColumn("band", expr(s"o_orderkey div $w"))
        if (graft.sources.WarehouseMeta.readManifest(src).isEmpty) {
          Sink.overwrite(banded.filter(col("band") <= 2).repartition(2),
            src, format = "graft-warehouse")
          Sink.append(banded.filter(col("band").between(3, 5))
            .repartition(2), src, format = "graft-warehouse")
          Sink.append(banded.filter(col("band") >= 6).repartition(2),
            src, format = "graft-warehouse")
        }
        val q = s.readStream.format("graft-warehouse").load(src)
          .writeStream.format("graft-warehouse")
          .option("checkpointLocation", s"${dst}_ckpt")
          .option("path", dst)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        Sink.read(s, dst, "graft-warehouse")
          .groupBy("band")
          .agg(count(lit(1)).as("n_rows"),
            round(sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double"), 2).as("total_price"))
          .orderBy("band")
      },
      Some("""SELECT o_orderkey
             |    // ((SELECT max(o_orderkey) FROM orders) // 8 + 1)
             |    AS band,
             |  count(*) AS n_rows,
             |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |    AS DOUBLE), 2) AS total_price
             |FROM orders GROUP BY band ORDER BY band""".stripMargin)),

    // COPY-ON-WRITE UPDATE (round-14): completes the warehouse row-level
    // CRUD surface (metadata DELETE → CoW DELETE → CDC MERGE → UPDATE).
    // Same 8-band clustered orders fixture as the CoW delete: updating
    // `o_totalprice += 500 WHERE o_orderkey <= max/4` zone-hits only the
    // low bands — the other files carry BY REFERENCE (WarehouseUpdateSpec
    // pins path-identical carriage, the exact updated count, SQL NULL
    // semantics, cluster-column re-split, and refuse-before-mutate). At
    // 100 TB, a predicate-scoped UPDATE rewrites the files whose zones
    // can match, never the table.
    QueryDef("sink_warehouse_update_cow",
      (s, dir) => {
        val orders = Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
        val path = Artifacts.key("wh_ordupd", dir, orders)
        val maxK = orders.agg(max(col("o_orderkey"))).head().getLong(0)
        val w = maxK / 8 + 1
        if (graft.sources.WarehouseMeta.readManifest(path).isEmpty)
          Sink.overwrite(
            orders.withColumn("band", expr(s"o_orderkey div $w"))
              .repartition(1),
            path, format = "graft-warehouse",
            options = Map("clusterBy" -> "band"))
        if (graft.sources.WarehouseMeta.readManifest(path)
            .exists(_.disposition != "UPDATE_COW"))
          graft.sources.WarehouseCow.updateWhereCow(s, path,
            org.apache.spark.sql.sources.LessThanOrEqual(
              "o_orderkey", maxK / 4),
            Map("o_totalprice" -> "o_totalprice + 500.0"))
        Sink.read(s, path, "graft-warehouse")
          .agg(count(lit(1)).as("n_orders"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"),
            round(sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double"), 2).as("total_price"))
      },
      Some("""SELECT count(*) AS n_orders,
             |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
             |  round(CAST(sum(CAST(
             |    CASE WHEN o_orderkey <= (SELECT max(o_orderkey) // 4
             |                             FROM orders)
             |         THEN o_totalprice + 500.0
             |         ELSE o_totalprice END
             |    AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_price
             |FROM orders""".stripMargin)),

    // SCHEMA EVOLUTION (round-14): the full ALTER TABLE surface — ADD
    // COLUMN, ADD COLUMN DEFAULT, RENAME COLUMN — each a ZERO-IO
    // metadata commit (reference analog: BigQuery's additive schema
    // updates on load jobs, `etl/core/dim_loader.py:23-30`). Three
    // vintages of orders: thirds loaded at 2, 3, and 4 columns with an
    // ALTER between each — vintage 1 reads `tag` as NULL via its
    // manifest arity, vintages 1-2 read `src` as the DEFAULT 'hist'
    // (with TRUTHFUL backfilled fnn/zone lines, so the evolved columns
    // stay metadata-servable), vintage 3 carries live values, and the
    // final RENAME (flag -> tag) rekeys every per-file stat without
    // touching a data file. The aggregate proves all three vintages
    // decode exactly. WarehouseEvolveSpec pins zero-IO carriage,
    // repeated evolution, serve survival, default backfill, CoW across
    // vintages, rename rekeys, and refusal directions. At 100 TB, every
    // ALTER costs one manifest write, never a rewrite.
    QueryDef("sink_warehouse_evolve",
      (s, dir) => {
        val orders = Tables.read(s, dir, "orders")
          .select("o_orderkey", "o_totalprice")
        val path = Artifacts.key("wh_ordevo2", dir, orders)
        val maxK = orders.agg(max(col("o_orderkey"))).head().getLong(0)
        val (h1, h2) = (maxK / 3, 2 * (maxK / 3))
        if (graft.sources.WarehouseMeta.readManifest(path).isEmpty) {
          // vintage 1: two columns
          Sink.overwrite(orders.filter(col("o_orderkey") <= h1)
            .repartition(2), path, format = "graft-warehouse")
          // +flag (no default): vintage 1 reads NULL
          graft.sources.WarehouseEvolve.addColumn(path, "flag",
            org.apache.spark.sql.types.LongType)
          // vintage 2: three columns
          Sink.append(orders.filter(col("o_orderkey") > h1 &&
            col("o_orderkey") <= h2)
            .withColumn("flag", col("o_orderkey") % 7), path,
            format = "graft-warehouse")
          // +src DEFAULT 'hist': vintages 1-2 read the default with
          // zero IO (and truthful backfilled fnn lines)
          graft.sources.WarehouseEvolve.addColumn(path, "src",
            org.apache.spark.sql.types.StringType, Some("'hist'"))
          // vintage 3: full four columns, live src
          Sink.append(orders.filter(col("o_orderkey") > h2)
            .withColumn("flag", col("o_orderkey") % 7)
            .withColumn("src", lit("live")), path,
            format = "graft-warehouse")
          // RENAME flag -> tag: pure metadata rekey across all vintages
          graft.sources.WarehouseEvolve.renameColumn(path, "flag", "tag")
        }
        Sink.read(s, path, "graft-warehouse")
          .agg(count(lit(1)).as("n_orders"),
            count(col("tag")).as("n_tagged"),
            sum(col("tag")).as("sum_tag"),
            count(when(col("src") === "hist", 1)).as("n_hist"),
            count(when(col("src") === "live", 1)).as("n_live"),
            round(sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double"), 2).as("total_price"))
      },
      Some("""WITH b AS (SELECT max(o_orderkey) // 3 AS h1,
             |             2 * (max(o_orderkey) // 3) AS h2 FROM orders)
             |SELECT count(*) AS n_orders,
             |  count(CASE WHEN o_orderkey > (SELECT h1 FROM b)
             |             THEN 1 END) AS n_tagged,
             |  CAST(sum(CASE WHEN o_orderkey > (SELECT h1 FROM b)
             |                THEN o_orderkey % 7 END) AS BIGINT) AS sum_tag,
             |  count(CASE WHEN o_orderkey <= (SELECT h2 FROM b)
             |             THEN 1 END) AS n_hist,
             |  count(CASE WHEN o_orderkey > (SELECT h2 FROM b)
             |             THEN 1 END) AS n_live,
             |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |    AS DOUBLE), 2) AS total_price
             |FROM orders""".stripMargin)),

    // STORAGE-PARTITIONED JOIN (round-12 DSv2 SupportsReportPartitioning):
    // orders and customer land in cluster-loaded warehouse tables sharing
    // a 64-bucket layout (`clusterBy` on pmod(custkey, 64) — one cluster
    // value per committed file, recorded in the manifest), and the
    // fact⋈dim equi-join including the bucket key runs WITHOUT any
    // exchange: both scans report KeyGroupedPartitioning, Spark aligns
    // the key groups (v2.bucketing), and the shuffle that would dominate
    // a 100 TB join simply never exists (WarehouseSpjSpec pins the
    // zero-ShuffleExchange plan; this row pins the VALUES against plain
    // parquet at every SF).
    QueryDef("join_warehouse_spj",
      (outer, dir) => {
        // SPJ confs live in a CLONED session (shared context, copied
        // SQLConf): the returned DataFrame plans under them at action
        // time, and the caller's session never sees the relaxed
        // co-partitioning settings — no cross-query contamination
        // (advice r12; a set-then-restore inside this builder would
        // instead UNSET them before the lazy plan ever ran).
        val s = org.apache.spark.sql.GraftInternal.cloneSession(outer)
        s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        // the join keys are a SUPERSET of the cluster key (bucket +
        // custkey): co-partitioning on the subset is exactly the bucketed
        // layout's contract, so relax the all-keys requirement
        s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
        val orders = Tables.read(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            pmod(col("o_custkey"), lit(64L)).as("bucket"))
        val cust = Tables.read(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"),
            pmod(col("c_custkey"), lit(64L)).as("bucket"))
        def fixture(df: DataFrame, tag: String): String = {
          val path = Artifacts.key(s"wh_spj$tag", dir, df)
          if (graft.sources.WarehouseMeta.readManifest(path).isEmpty)
            Sink.overwrite(df.repartition(8, col("bucket")), path,
              format = "graft-warehouse",
              options = Map("clusterBy" -> "bucket"))
          path
        }
        val op = fixture(orders, "o")
        val cp = fixture(cust, "c")
        Sink.read(s, op, "graft-warehouse").as("o")
          .join(Sink.read(s, cp, "graft-warehouse").as("c"),
            col("o.bucket") === col("c.bucket") &&
              col("o.o_custkey") === col("c.c_custkey"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double"), 2).as("total_price"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c.c_mktsegment, count(*) AS n_orders,
             |  round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)))
             |    AS DOUBLE), 2) AS total_price
             |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
             |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)),

    // RUNTIME file pruning through a real join (round-12
    // SupportsRuntimeFiltering): the warehouse orders table is
    // range-clustered on o_orderkey, the build side is a SELECTIVE dim
    // (max-quantity line items) filtered on a NON-join column — so no
    // static predicate can reach the fact side, and only the
    // execution-time DPP key set lets the zone maps drop files. Pruning
    // is file-granular and transparent; the oracle is the plain
    // semi-join over the source parquet (WarehouseRuntimeFilterSpec pins
    // the files-planned-shrinks behavior on a hand-built layout).
    QueryDef("scan_warehouse_runtime_pruned",
      (s, dir) => {
        val dim = Tables.read(s, dir, "lineitem")
          .filter(col("l_quantity") === 50.0)
          .select(col("l_orderkey")).distinct()
        rangeClusteredOrders(s, dir)
          .join(broadcast(dim),
            col("o_orderkey") === col("l_orderkey"))
          .agg(count(lit(1)).as("n_orders"),
            min(col("o_orderkey")).as("min_key"),
            round(sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double"), 2).as("total_price"))
      },
      Some("""SELECT count(*) AS n_orders, min(o_orderkey) AS min_key,
             |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
             |    AS DOUBLE), 2) AS total_price
             |FROM orders
             |WHERE o_orderkey IN (SELECT DISTINCT l_orderkey
             |  FROM lineitem WHERE l_quantity = 50)""".stripMargin))
  )

  /** orders `(o_orderkey, o_custkey, o_totalprice)` in the load-job table,
    * range-clustered on o_orderkey into 8 files with disjoint key zones:
    * built once per corpus (content-fingerprinted key), read by
    * scan_warehouse_pruned, _agg, _limit, _topn and _runtime_pruned.
    */
  private def rangeClusteredOrders(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables.read(s, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val path = Artifacts.key("wh_ordrange", dir, orders)
    if (graft.sources.WarehouseMeta.readManifest(path).isEmpty)
      Sink.overwrite(orders.repartitionByRange(8, col("o_orderkey")),
        path, format = "graft-warehouse")
    Sink.read(s, path, "graft-warehouse")
  }

  private lazy val dateDimOracle: String =
    """SELECT CAST(strftime(d, '%Y%m%d') AS BIGINT) AS date_key,
      |strftime(d, '%Y-%m-%d') AS full_date,
      |CAST(day(d) AS BIGINT) AS day, CAST(month(d) AS BIGINT) AS month,
      |CAST(year(d) AS BIGINT) AS year, dayname(d) AS weekday
      |FROM generate_series(DATE '2024-01-01', DATE '2024-12-31', INTERVAL 1 DAY) t(d)
      |ORDER BY date_key""".stripMargin

  private lazy val ampmOracle: String = {
    // mirror of TimeParse.parseAmPmKey + the raw-shape synthesis
    val raw =
      """CASE WHEN event_id % 4 = 0 THEN strftime(ts, '%I%M') || substr(strftime(ts, '%p'), 1, 1)
        |     WHEN event_id % 4 = 1 THEN CAST(CAST(strftime(ts, '%I') AS INT) AS VARCHAR) || ':' || strftime(ts, '%M') || substr(strftime(ts, '%p'), 1, 1)
        |     WHEN event_id % 4 = 2 THEN strftime(ts, '%I:%M') || strftime(ts, '%p')
        |     ELSE '9961X' END""".stripMargin
    s"""SELECT event_id, raw,
       |  CASE WHEN (mer = 'A' OR mer = 'P')
       |        AND regexp_matches(wc, '^[0-9]{1,2}:[0-9]{2}$$')
       |        AND hh BETWEEN 1 AND 12 AND mm BETWEEN 0 AND 59
       |    THEN CAST((CASE WHEN mer = 'A' THEN (CASE WHEN hh = 12 THEN 0 ELSE hh END)
       |                    ELSE (CASE WHEN hh = 12 THEN 12 ELSE hh + 12 END) END) * 10000
       |              + mm * 100 AS BIGINT) END AS time_key
       |FROM (
       |  SELECT event_id, raw,
       |    TRY_CAST(split_part(wc, ':', 1) AS INT) AS hh,
       |    TRY_CAST(split_part(wc, ':', 2) AS INT) AS mm, mer, wc
       |  FROM (
       |    SELECT event_id, raw,
       |      CASE WHEN regexp_matches(core, '^[0-9]{3,4}$$')
       |        THEN substr(core, 1, length(core) - 2) || ':' || substr(core, length(core) - 1, 2)
       |        ELSE core END AS wc,
       |      mer
       |    FROM (
       |      SELECT event_id, raw,
       |        regexp_extract(upper(trim(raw)), '^([0-9:]+)(A|P)M?$$', 1) AS core,
       |        regexp_extract(upper(trim(raw)), '^([0-9:]+)(A|P)M?$$', 2) AS mer
       |      FROM (SELECT event_id, $raw AS raw FROM events))))
       |ORDER BY event_id""".stripMargin
  }
}
