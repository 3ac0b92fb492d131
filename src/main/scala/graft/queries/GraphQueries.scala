package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.QueryDef.Sql
import graft.core.{GraftFunctions, Tables}
import graft.ops.{Graph, Scd2}

/** Graph analytics, versioned-dimension maintenance, and range-frame
  * windows (round 2, second wave).
  */
object GraphQueries {

  private val PrIters = 3

  /** Per-pivot degree cap for the link-prediction wedge explodes
    * (graft.ops.Graph.cappedNeighborPairs): one hot pivot contributes
    * pairs only among its 256 smallest neighbors, bounding any single
    * task's explode output at C(256,2) ≈ 33k rows no matter how skewed
    * the degree distribution gets. Inert on TPC-H-shaped data (a
    * customer touches ~40 distinct suppliers at any SF — order count
    * per customer is scale-invariant), so the oracle results are
    * unchanged; load-bearing on real power-law graphs. Mirrored in the
    * DuckDB oracles as `row_number() OVER (PARTITION BY cust ORDER BY
    * supp) <= 256`.
    */
  private val PivotDegreeCap = 256

  /** The hash-sparsified deduped (cust, supp) bipartite pairs shared by
    * the two link-prediction queries, recoded from the persisted edge
    * fixture (src = l_suppkey*2, dst = o_custkey*2+1 — `div` keeps the
    * BIGINT key type, so rows and schema are identical to the old
    * lineitem⋈orders derivation). The dedup rides a PINNED cust-keyed
    * repartition: hash(cust) clusters (cust, supp) too (subset of the
    * dedup keys), so the per-cust set agg downstream needs no second
    * exchange, and AQE cannot coalesce the stage that runs the
    * C(cap,2)-per-pivot wedge explode down to a few tasks.
    */
  private def custSuppDeduped(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    GraphFixtures.edges(s, dir)
      .select(expr("(dst - 1) div 2").as("cust"),
        expr("src div 2").as("supp"))
      .filter(graft.ops.Sampling.hashBucket(col("cust"), "cn") < 1000)
      .repartition(s.sessionState.conf.numShufflePartitions, col("cust"))
      .dropDuplicates("cust", "supp")

  /** Shared oracle CTE chain for the label-propagation family: the
    * bipartite order graph (base/e0), the identity labeling (l0), and
    * `rounds` unrolled synchronous self-vote min-tie-break updates
    * (v_i/l_i) — window-argmax form, so gates built on it also prove the
    * engine's max(struct) argmax equivalent. Every CTE is MATERIALIZED:
    * DuckDB (≤1.0) inlines plain CTEs per REFERENCE, and consumers like
    * the modularity oracle reference l_rounds three times — at sf1 that
    * re-executed the whole spill-heavy LP chain per reference and ran the
    * host out of temp disk (>79 GB) before it ran out of patience.
    */
  private def lpCtes(rounds: Int): String = {
    def round(i: Int) =
      s"""v$i AS MATERIALIZED (
         |  SELECT node, label, count(*) AS n FROM (
         |    SELECT e.dst AS node, l.label
         |    FROM e0 e JOIN l${i - 1} l ON l.node = e.src
         |    UNION ALL SELECT node, label FROM l${i - 1})
         |  GROUP BY 1, 2),
         |l$i AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT node, label, row_number() OVER (
         |      PARTITION BY node ORDER BY n DESC, label ASC) AS rn
         |    FROM v$i) WHERE rn = 1)""".stripMargin
    s"""base AS MATERIALIZED (
       |  SELECT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
       |        SELECT src, dst FROM base
       |        UNION ALL SELECT dst, src FROM base)),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM e0),
       |${(1 to rounds).map(round).mkString(",\n")}""".stripMargin
  }

  /** Oracle twin of [[Graph.pagerank]]: the iteration unrolled as chained
    * CTEs, same fixed-point integer arithmetic (`//` = `div`).
    */
  private def pagerankSql(iters: Int): String = {
    val base =
      s"""WITH edges AS (
         |  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
         |    'c' || CAST(o_custkey AS VARCHAR) AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |it0 AS (SELECT node, CAST(${Graph.Scale} AS BIGINT) AS r FROM nodes)""".stripMargin
    val its = (1 to iters).map { i =>
      s""",
         |it$i AS (SELECT n.node,
         |  CAST(${Graph.BaseScaled} +
         |    (${Graph.DampNum} * COALESCE(s.contrib, 0)) // 1000 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.r // d.deg) AS contrib
         |    FROM it${i - 1} p
         |    JOIN edges e ON e.src = p.node
         |    JOIN outdeg d ON d.src = p.node
         |    GROUP BY 1) s ON s.node = n.node)""".stripMargin
    }.mkString
    base + its +
      s"\nSELECT node, r FROM it$iters ORDER BY r DESC, node LIMIT 50"
  }

  /** Oracle for graph_ppr: the pagerankSql skeleton with the teleport
    * mass confined to the seed suppliers (s1..s4 — engine nodes 2,4,6,8).
    */
  private def pprSql(iters: Int): String = {
    val seed = "(n.node LIKE 's%' AND CAST(substr(n.node, 2) AS BIGINT) BETWEEN 1 AND 4)"
    val base =
      s"""WITH edges AS (
         |  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
         |    'c' || CAST(o_custkey AS VARCHAR) AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         |outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |it0 AS (SELECT n.node,
         |  CAST(CASE WHEN $seed THEN ${Graph.Scale} ELSE 0 END AS BIGINT)
         |    AS r FROM nodes n)""".stripMargin
    val its = (1 to iters).map { i =>
      s""",
         |it$i AS (SELECT n.node,
         |  CAST((CASE WHEN $seed THEN ${Graph.BaseScaled} ELSE 0 END) +
         |    (${Graph.DampNum} * COALESCE(s.contrib, 0)) // 1000 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.r // d.deg) AS contrib
         |    FROM it${i - 1} p
         |    JOIN edges e ON e.src = p.node
         |    JOIN outdeg d ON d.src = p.node
         |    GROUP BY 1) s ON s.node = n.node)""".stripMargin
    }.mkString
    base + its +
      s"""
         |SELECT node, r FROM it$iters WHERE r > 0
         |ORDER BY r DESC, node LIMIT 50""".stripMargin
  }

  /** Oracle for graph_hits: the unrolled max-renormalized HITS trajectory
    * (mirror of Graph.hits — CAST-bounded integral renorms, role-split
    * top-25 heads).
    */
  private def hitsSql(iters: Int): String = {
    val S = Graph.HitsScale
    // every CTE is MATERIALIZED: each a{i}r/h{i}r is referenced twice
    // (its renorm + the scalar max) — inlined, DuckDB would re-run the
    // 6M-row edge join a growing number of times per iteration
    val base =
      s"""WITH edges AS MATERIALIZED (
         |  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
         |    'c' || CAST(o_custkey AS VARCHAR) AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |h0 AS MATERIALIZED (SELECT DISTINCT src AS node,
         |  CAST($S AS BIGINT) AS s FROM edges)""".stripMargin
    val its = (1 to iters).map { i =>
      s""",
         |a${i}r AS MATERIALIZED (SELECT e.dst AS node, sum(h.s) AS raw
         |  FROM edges e JOIN h${i - 1} h ON h.node = e.src GROUP BY 1),
         |a$i AS MATERIALIZED (SELECT node, CAST(raw * $S
         |    // (SELECT max(raw) FROM a${i}r) AS BIGINT) AS s FROM a${i}r),
         |h${i}r AS MATERIALIZED (SELECT e.src AS node, sum(a.s) AS raw
         |  FROM edges e JOIN a$i a ON a.node = e.dst GROUP BY 1),
         |h$i AS MATERIALIZED (SELECT node, CAST(raw * $S
         |    // (SELECT max(raw) FROM h${i}r) AS BIGINT) AS s FROM h${i}r)"""
        .stripMargin
    }.mkString
    base + its +
      s"""
         |SELECT role, node, CAST(s AS BIGINT) AS score FROM (
         |  SELECT 'hub' AS role, node, s FROM h$iters
         |  ORDER BY s DESC, node LIMIT 25)
         |UNION ALL
         |SELECT role, node, CAST(s AS BIGINT) AS score FROM (
         |  SELECT 'authority' AS role, node, s FROM a$iters
         |  ORDER BY s DESC, node LIMIT 25)
         |ORDER BY role, score DESC, node""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(

    // HITS hubs & authorities over the fulfillment graph — "which
    // suppliers feed the important customers, which customers aggregate
    // the important suppliers" (the bipartite centrality pagerank's
    // single damping can't express). Integer max-renorm per half-step
    // (top score exactly 1e6) keeps the iterative algorithm
    // hash-checkable; per-role top-25 heads are TakeOrdered, never a
    // role-partitioned rank window (2 partitions over |nodes| rows would
    // be a skew trap).
    QueryDef("graph_hits",
      (s, dir) => {
        val out = Graph.hits(GraphFixtures.edgesDistinct(s, dir),
            GraphFixtures.srcNodesWithCount(s, dir), 2)
          .select(col("role"), concat(
            when(col("node") % 2 === 0, "s").otherwise("c"),
            (col("node") / 2).cast("long").cast("string")).as("node"),
            col("score"))
        val hubs = out.filter(col("role") === "hub")
          .orderBy(desc("score"), col("node")).limit(25)
        val auths = out.filter(col("role") === "authority")
          .orderBy(desc("score"), col("node")).limit(25)
        hubs.unionByName(auths)
          .orderBy(col("role"), desc("score"), col("node"))
      },
      Some(hitsSql(2))),

    // PERSONALIZED PageRank from a 4-supplier seed set over the same
    // fulfillment graph — "entities related to this neighborhood", the
    // graph-feature complement of global pagerank. Teleport mass is
    // confined to the seeds (restart = (1−d)·Scale on seeds, 0
    // elsewhere); after 3 rounds only nodes within 3 hops hold mass, so
    // the r > 0 filter keeps the output neighborhood-sized at any SF.
    // Same integer fixed-point and broadcast-gated loop as
    // graph_pagerank; seeds are suppliers 1-4 (even engine node ids
    // 2,4,6,8 — the same s-prefix labels the oracle rebuilds).
    QueryDef("graph_ppr",
      (s, dir) => {
        Graph.personalizedPagerank(GraphFixtures.edgesDistinct(s, dir),
            GraphFixtures.nodesWithCount(s, dir),
            col("node") % 2 === 0 && col("node").between(2, 8), PrIters)
          .filter(col("r") > 0)
          .select(concat(
            when(col("node") % 2 === 0, "s").otherwise("c"),
            (col("node") / 2).cast("long").cast("string")).as("node"),
            col("r"))
          .orderBy(desc("r"), col("node")).limit(50)
      },
      Some(pprSql(PrIters))),

    // Fixed-point PageRank over the supplier→customer fulfillment graph
    // (who supplies whose orders). Integer-scaled ranks make an iterative
    // float algorithm exactly oracle-checkable; per round one join + one
    // agg, outdegree broadcast. 3 rounds here; big graphs checkpoint
    // every few rounds like dedup_cluster.
    QueryDef("graph_pagerank",
      (s, dir) => {
        // nodes ride the shuffles as LONGs (suppliers even, customers odd)
        // — numeric keys hash/compare far cheaper than 's…'/'c…' strings;
        // the labels are rebuilt only on the 50-row output. The edge list
        // is the family-shared persisted fixture (GraphFixtures.edges):
        // at sf2+ the lineitem⋈orders build is a full shuffle join, paid
        // once per corpus instead of once per graph query.
        Graph.pagerank(GraphFixtures.edgesDistinct(s, dir),
            GraphFixtures.nodesWithCount(s, dir), PrIters)
          .select(concat(
            when(col("node") % 2 === 0, "s").otherwise("c"),
            (col("node") / 2).cast("long").cast("string")).as("node"),
            col("r"))
          .orderBy(desc("r"), col("node")).limit(50)
      },
      Some(pagerankSql(PrIters))),

    // Multi-source BFS hop distances from two landmark suppliers over the
    // same bipartite graph: 4 synchronous frontier-relaxation rounds
    // (shuffle ∝ edges per round, distance frame broadcast-gated like
    // pagerank), output = the hop histogram. The oracle walks the same
    // graph with a recursive (node, d) UNION — bounded by nodes×rounds,
    // no path explosion — and takes min(d).
    QueryDef("graph_hop_distance",
      (s, dir) => {
        Graph.hopDistances(GraphFixtures.edgesSymDistinct(s, dir),
            GraphFixtures.nodesWithCount(s, dir), col("node") < 5,
            rounds = 4)
          .groupBy("hop").agg(count(lit(1)).as("n_nodes"))
          .orderBy("hop")
      },
      Some("""WITH RECURSIVE base AS (
             |  SELECT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |e AS (SELECT DISTINCT src, dst FROM (
             |        SELECT src, dst FROM base
             |        UNION ALL SELECT dst, src FROM base)),
             |n AS (SELECT DISTINCT src AS node FROM e),
             |walk(node, d) AS (
             |  SELECT node, 0 FROM n WHERE node < 5
             |  UNION
             |  SELECT e.dst, w.d + 1 FROM walk w
             |  JOIN e ON e.src = w.node WHERE w.d < 4),
             |md AS (SELECT node, min(d) AS d FROM walk GROUP BY 1)
             |SELECT CAST(coalesce(md.d, -1) AS BIGINT) AS hop,
             |  count(*) AS n_nodes
             |FROM n LEFT JOIN md USING (node)
             |GROUP BY 1 ORDER BY hop""".stripMargin)),

    // Harmonic closeness centrality for the landmark seeds (the same
    // node<5 set hop_distance sketches, but PER SEED): Σ 1/d over every
    // node within `rounds` hops — the disconnected-safe closeness form.
    // Graph.seededDistances keeps the SPARSE (seed, node, d) frontier
    // (union of r-balls, never |seeds|×|nodes|); 1/d terms round to
    // 12 dp and decimal-sum so both engines agree to the final 6 dp.
    QueryDef("graph_closeness",
      (s, dir) => {
        Graph.seededDistances(GraphFixtures.edgesSymDistinct(s, dir),
            GraphFixtures.nodesWithCount(s, dir)._1, col("node") < 5,
            rounds = 4)
          .filter(col("d") > 0)
          .groupBy("seed")
          .agg(count(lit(1)).as("n_reached"),
            round(sum(round(lit(1.0) / col("d"), 12)
              .cast("decimal(28,12)")).cast("double"), 6).as("harmonic"))
          .orderBy("seed")
      },
      Some("""WITH RECURSIVE base AS (
             |  SELECT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |e AS (SELECT DISTINCT src, dst FROM (
             |        SELECT src, dst FROM base
             |        UNION ALL SELECT dst, src FROM base)),
             |n AS (SELECT DISTINCT src AS node FROM e),
             |walk(seed, node, d) AS (
             |  SELECT node, node, 0 FROM n WHERE node < 5
             |  UNION
             |  SELECT w.seed, e.dst, w.d + 1 FROM walk w
             |  JOIN e ON e.src = w.node WHERE w.d < 4),
             |md AS (SELECT seed, node, min(d) AS d FROM walk
             |  GROUP BY 1, 2)
             |SELECT seed, count(*) AS n_reached,
             |  round(CAST(sum(CAST(round(1.0 / d, 12) AS DECIMAL(28,12)))
             |    AS DOUBLE), 6) AS harmonic
             |FROM md WHERE d > 0
             |GROUP BY 1 ORDER BY seed""".stripMargin)),

    // Exact triangle count + clustering coefficient over the supplier
    // co-occurrence graph (suppliers sharing an order), deterministically
    // hash-sparsified to ~8% of edges so the graph stays wedge-countable
    // at every SF (the raw co-occurrence graph saturates toward complete).
    // Degree-ordered orientation caps out-degrees near sqrt(2|E|) — the
    // shape that survives hub skew at 100 TB; the oracle counts the same
    // triangles by id-ordered 3-way self-join.
    QueryDef("graph_triangles",
      (s, dir) => {
        // co-occurrence WITHOUT a fact self-join: one groupBy collapses the
        // fact to per-order supplier sets (orders are small), pairs explode
        // map-side from the sorted set, and the hash sparsifier runs BEFORE
        // the distinct — the wide distinct shuffle sees 8% of pairs, and
        // the fact table shuffles once, not twice
        val sets = Tables.read(s, dir, "lineitem")
          .select("l_orderkey", "l_suppkey")
          .groupBy("l_orderkey")
          .agg(array_sort(collect_set(col("l_suppkey"))).as("ss"))
          .filter(size(col("ss")) >= 2)
        val pairs = sets.select(explode(flatten(
          transform(col("ss"), (x, i) =>
            transform(slice(col("ss"), i + 2, size(col("ss"))),
              y => struct(x.as("u"), y.as("v")))))).as("p"))
          .select(col("p.u"), col("p.v"))
        // no distinct here: triangleStats canonicalizes (and dedups) itself
        val sparse = pairs.filter(pmod(GraftFunctions.hash64(
          concat_ws("|", lit("tri"), col("u").cast("string"),
            col("v").cast("string"))), lit(100L)) < 8)
        Graph.triangleStats(sparse)
      },
      Some(s"""WITH co AS (
              |  SELECT a.l_suppkey AS u, b.l_suppkey AS v
              |  FROM lineitem a JOIN lineitem b
              |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
              |  GROUP BY 1, 2),
              |e AS (SELECT u AS a, v AS b FROM co
              |  WHERE ${Sql.hash64("'tri|' || CAST(u AS VARCHAR) || '|' || CAST(v AS VARCHAR)")} % 100 < 8),
              |deg AS (SELECT n, count(*) AS d FROM (
              |  SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY n),
              |tri AS (SELECT count(*) AS t FROM e x, e y, e z
              |  WHERE x.a = y.a AND x.b = z.a AND y.b = z.b),
              |wed AS (SELECT CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS w FROM deg)
              |SELECT (SELECT count(*) FROM deg) AS n_nodes,
              |(SELECT count(*) FROM e) AS n_edges,
              |(SELECT t FROM tri) AS n_triangles,
              |round(3.0 * (SELECT t FROM tri) / (SELECT w FROM wed), 9) AS global_cc""".stripMargin)),

    // SCD2 dimension maintenance: a change batch closes the current
    // version (valid_to stamped) and inserts the new current one —
    // keep-history counterpart of merge_upsert. Changes: +100 acctbal
    // for every 10th customer, effective 2024-06-01.
    QueryDef("scd2_dim",
      (s, dir) => {
        val c = Tables.read(s, dir, "customer")
          .select("c_custkey", "c_name", "c_acctbal")
        val dim0 = c
          .withColumn("valid_from", lit("2024-01-01"))
          .withColumn("valid_to", lit(null).cast("string"))
          .withColumn("is_current", lit(true))
        val changes = c.filter(pmod(col("c_custkey"), lit(10)) === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 100)
        Scd2(dim0, changes, "c_custkey", "2024-06-01")
          .orderBy("c_custkey", "valid_from")
      },
      Some("""SELECT c_custkey, c_name, c_acctbal,
             |'2024-01-01' AS valid_from,
             |CASE WHEN c_custkey % 10 = 0 THEN '2024-06-01' END AS valid_to,
             |c_custkey % 10 <> 0 AS is_current
             |FROM customer
             |UNION ALL
             |SELECT c_custkey, c_name, c_acctbal + 100, '2024-06-01', NULL, true
             |FROM customer WHERE c_custkey % 10 = 0
             |ORDER BY c_custkey, valid_from""".stripMargin)),

    // k-core of the bipartite order graph (k=8, 3 synchronous peeling
    // rounds): the dense backbone that survives after low-degree nodes
    // cascade away — the community/spam-cluster primitive. Each round is
    // one degree agg + two semi-joins over the SHRINKING edge list; the
    // oracle unrolls the identical rounds.
    QueryDef("graph_kcore",
      (s, dir) => {
        Graph.kcore(GraphFixtures.edgesSymDistinct(s, dir),
            GraphFixtures.nodesWithCount(s, dir)._2, k = 8, rounds = 3)
          .groupBy("core_degree").agg(count(lit(1)).as("n_nodes"))
          .orderBy("core_degree")
      },
      Some {
        def round(i: Int) =
          s"""k$i AS (SELECT src FROM e${i - 1}
             |  GROUP BY src HAVING count(*) >= 8),
             |e$i AS (SELECT e.src, e.dst FROM e${i - 1} e
             |  JOIN k$i a ON a.src = e.src
             |  JOIN k$i b ON b.src = e.dst)""".stripMargin
        s"""WITH base AS (
           |  SELECT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
           |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
           |e0 AS (SELECT DISTINCT src, dst FROM (
           |        SELECT src, dst FROM base
           |        UNION ALL SELECT dst, src FROM base)),
           |${(1 to 3).map(round).mkString(",\n")}
           |SELECT core_degree, count(*) AS n_nodes FROM (
           |  SELECT src, count(*) AS core_degree FROM e3
           |  GROUP BY 1 HAVING count(*) >= 8)
           |GROUP BY 1 ORDER BY core_degree""".stripMargin
      }),

    // Label-propagation communities over the same bipartite order graph
    // (3 synchronous rounds, self-vote, min-label tie-break — fully
    // deterministic where async LPA is visit-order-dependent). The
    // engine's per-node argmax is a map-side-combinable max(struct); the
    // oracle's is a row_number window — the gate also proves the two
    // formulations equivalent. Output: community sizes.
    QueryDef("graph_community_lp",
      (s, dir) => {
        // the label frame itself is a persisted fixture
        // (GraphFixtures.lpLabels) so graph_modularity consumes THIS
        // propagation instead of re-running the iterative loop
        GraphFixtures.lpLabels(s, dir, rounds = 3)
          .groupBy(col("label").as("community"))
          .agg(count(lit(1)).as("n_nodes"))
          .orderBy("community")
      },
      Some(s"""WITH ${lpCtes(3)}
              |SELECT label AS community, count(*) AS n_nodes
              |FROM l3 GROUP BY 1 ORDER BY community""".stripMargin)),

    // Modularity of the LP partition — the standard community-quality
    // metric Q = Σ_c [intra_c/m − (d_c/2m)²], in ppm fixed-point with
    // per-community truncating division mirrored in both engines; the
    // d_c² product runs in DECIMAL(38,0) (int64 wraps once d_c passes
    // ~3e6 at ppm scale). One labels join per edge endpoint, one
    // community-level agg — shuffle ∝ edges, communities ≤ nodes.
    QueryDef("graph_modularity",
      (s, dir) => {
        // both inputs are family-shared persisted fixtures: the edge list
        // is a parquet scan, and the LABELS are the same frame
        // graph_community_lp propagated — modularity scores the partition
        // it was handed instead of re-running label propagation
        // the symmetric-distinct adjacency is the family-shared persisted
        // fixture too (the closeness/hop_distance discipline) — the
        // per-query doubled-edge distinct+checkpoint disappears; a plain
        // parquet scan feeds the three aggregates
        val e2 = GraphFixtures.edgesSymDistinct(s, dir)
        val labels = GraphFixtures.lpLabels(s, dir, rounds = 3)
        val mDf = e2.agg(expr("count(1) div 2").as("m"))
        val deg = e2.groupBy("src").agg(count(lit(1)).as("d"))
        val commDeg = deg
          .join(labels.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy("label").agg(sum(col("d")).as("d_c"))
        val intra = e2
          .join(labels.withColumnRenamed("node", "src")
            .withColumnRenamed("label", "la"), Seq("src"))
          .join(labels.withColumnRenamed("node", "dst")
            .withColumnRenamed("label", "lb"), Seq("dst"))
          .filter(col("la") === col("lb"))
          .groupBy(col("la").as("label"))
          .agg(count(lit(1)).as("intra2"))
        commDeg.join(intra, Seq("label"), "left")
          .na.fill(0L, Seq("intra2"))
          .crossJoin(broadcast(mDf))
          .select((expr("intra2 * 1000000L div (2 * m)") -
            expr("""CAST((CAST(d_c AS DECIMAL(38,0)) * d_c * 1000000)
                   |  div (CAST(4 AS DECIMAL(38,0)) * m * m) AS BIGINT)"""
              .stripMargin)).as("t"))
          .agg(sum(col("t")).cast("long").as("modularity_ppm"),
            count(lit(1)).as("n_communities"))
      },
      Some(s"""WITH ${lpCtes(3)},
              |m AS (SELECT count(*) // 2 AS m FROM e0),
              |deg AS (SELECT src, count(*) AS d FROM e0 GROUP BY 1),
              |cd AS (SELECT l.label, CAST(sum(d.d) AS BIGINT) AS d_c
              |       FROM deg d JOIN l3 l ON l.node = d.src GROUP BY 1),
              |intra AS (SELECT la.label, count(*) AS intra2
              |  FROM e0 e
              |  JOIN l3 la ON la.node = e.src
              |  JOIN l3 lb ON lb.node = e.dst AND lb.label = la.label
              |  GROUP BY 1),
              |terms AS (
              |  SELECT coalesce(i.intra2, 0) * 1000000 // (2 * m.m)
              |    - CAST((CAST(cd.d_c AS HUGEINT) * cd.d_c * 1000000)
              |        // (CAST(4 AS HUGEINT) * m.m * m.m) AS BIGINT) AS t
              |  FROM cd LEFT JOIN intra i ON i.label = cd.label CROSS JOIN m)
              |SELECT CAST(sum(t) AS BIGINT) AS modularity_ppm,
              |  count(*) AS n_communities FROM terms""".stripMargin)),

    // Common-neighbor link prediction: supplier pairs scored by how many
    // customers both serve — wedges exploded from per-customer supplier
    // sets (sorted, map-side), counts per pair, top 30. Two skew guards
    // compose: customers are deterministically hash-sparsified to ~10%
    // BEFORE the wedge explode (the triangles trick) so Σ C(deg,2) stays
    // bounded in aggregate, and each pivot's neighborhood is capped at
    // its PivotDegreeCap smallest suppliers (Graph.cappedNeighborPairs)
    // so ONE hot customer can't materialize C(100k, 2) structs in a
    // single task — sparsification thins pivots, the cap bounds each
    // survivor. The "who should be trading partners" score.
    QueryDef("graph_common_neighbors",
      (s, dir) => {
        // the bipartite (cust, supp) pairs are a pure recode of the
        // family-shared persisted edge fixture (src = l_suppkey*2,
        // dst = o_custkey*2+1, multiplicities preserved) — scanning it
        // replaces the per-query lineitem⋈orders shuffle join; `div`
        // keeps the BIGINT key type, so rows and schema are identical
        // ONE pinned cust-keyed exchange carries the whole pipeline
        // (r15): hash(cust) satisfies the (cust, supp) dedup AND the
        // per-cust set agg (subset-of-keys clustering), so the dedup, the
        // collect_set, the capped wedge explode and the pair partial agg
        // all run in ONE N-wide stage — the un-pinned form planned a
        // (cust, supp) distinct exchange PLUS a cust exchange, and AQE
        // coalesced the post-shuffle side to ≤3 tasks, serializing the
        // C(cap,2)-per-pivot explode (measured 1.4–2.2 s of task time on
        // 9 tasks total).
        val cs = custSuppDeduped(s, dir)
        val sets = cs.groupBy("cust")
          .agg(sort_array(collect_set(col("supp"))).as("supps"))
        graft.ops.Graph.cappedNeighborPairs(sets, "supps", PivotDegreeCap)
          .groupBy("s_a", "s_b")
          .agg(count(lit(1)).as("common_customers"))
          .orderBy(desc("common_customers"), col("s_a"), col("s_b"))
          .limit(30)
      },
      Some(s"""WITH cs AS (SELECT DISTINCT o_custkey AS cust,
              |    l_suppkey AS supp
              |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |  WHERE ${Sql.hash64("'cn|' || CAST(o_custkey AS VARCHAR)")}
              |        % 10000 < 1000),
              |capped AS (SELECT cust, supp FROM (
              |    SELECT cust, supp, row_number() OVER (
              |      PARTITION BY cust ORDER BY supp) AS rn FROM cs)
              |  WHERE rn <= $PivotDegreeCap)
              |SELECT a.supp AS s_a, b.supp AS s_b,
              |  count(*) AS common_customers
              |FROM capped a JOIN capped b
              |  ON a.cust = b.cust AND a.supp < b.supp
              |GROUP BY 1, 2
              |ORDER BY common_customers DESC, s_a, s_b LIMIT 30""".stripMargin)),

    // Neighbor-Jaccard link scoring: the common-neighbor counts
    // normalized by union-of-neighborhood size — |N(a)∩N(b)| /
    // (|N(a)| + |N(b)| - |N(a)∩N(b)|), in integer ppm so both engines
    // rank identically. Same hash-sparsified subgraph and capped wedge
    // explode as graph_common_neighbors (salt "cn" and PivotDegreeCap,
    // so the two scores are comparable over the same pairs); degrees
    // come, UNCAPPED, from one extra
    // key-bounded agg over the checkpointed edge set, joined onto the
    // pair counts. Normalization separates "popular supplier touches
    // everyone" from "these two genuinely share a customer base".
    QueryDef("graph_jaccard",
      (s, dir) => {
        // Round-7 re-plan (the 0.52-exponent row). Three changes vs the
        // round-6 form, oracle untouched:
        //  - `cs` flows ONCE (no eager checkpoint — that extra
        //    materialization pass over the 10×-bigger edge set was the
        //    exponent's main term); the shared frame is now `sets`
        //    (one row per customer, collect_set output), pinned lazily.
        //  - true degrees derive from `sets` by explode+count (identical
        //    values: supps is the distinct supplier set per customer)
        //    instead of a second pass over cs.
        //  - the wedge pair rides one BIGINT (s_a<<32 | s_b, supplier
        //    keys < 2³¹), narrowing the one data-sized exchange; the
        //    encoded key orders identically to (s_a, s_b).
        // shared pinned-width recode of the persisted edge fixture — see
        // custSuppDeduped (one cust-keyed exchange; the wedge-explode
        // stage stays N-wide through the lazy checkpoint's blocks)
        val cs = custSuppDeduped(s, dir)
        val sets = cs.groupBy("cust")
          .agg(sort_array(collect_set(col("supp"))).as("supps"))
          .localCheckpoint(false)
        val pairs = graft.ops.Graph
          .cappedNeighborPairs(sets, "supps", PivotDegreeCap)
          .select(graft.ops.Graph.packPair(col("s_a"), col("s_b")).as("pp"))
          .groupBy("pp")
          .agg(count(lit(1)).as("common_customers"))
          .select(expr("shiftright(pp, 32)").as("s_a"),
            expr("pp & 4294967295").as("s_b"), col("common_customers"))
        val deg = sets.select(explode(col("supps")).as("supp"))
          .groupBy("supp").agg(count(lit(1)).as("deg"))
        // `deg` is NODE-bounded — one row per supplier — but Catalyst's
        // estimate tracks the edge-sized lineage, so un-hinted the two
        // join-backs sort-merge and shuffle the whole pair frame twice.
        // Broadcast-gate on the true supplier count (the pagerank/kcore
        // discipline, Graph.BroadcastMaxNodes): under the gate the degree
        // joins are map-side over the pair agg output; past it a forced
        // broadcast would OOM, so the plan falls back to shuffle joins.
        val hint: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
          if (deg.count() <= graft.ops.Graph.BroadcastMaxNodes)
            broadcast else identity
        pairs
          .join(hint(deg.select(col("supp").as("s_a"), col("deg").as("da"))), "s_a")
          .join(hint(deg.select(col("supp").as("s_b"), col("deg").as("db"))), "s_b")
          .withColumn("jaccard_ppm", expr(
            "common_customers * 1000000 div (da + db - common_customers)"))
          .select("s_a", "s_b", "common_customers", "jaccard_ppm")
          .orderBy(desc("jaccard_ppm"), desc("common_customers"),
            col("s_a"), col("s_b"))
          .limit(30)
      },
      Some(s"""WITH cs AS (SELECT DISTINCT o_custkey AS cust,
              |    l_suppkey AS supp
              |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |  WHERE ${Sql.hash64("'cn|' || CAST(o_custkey AS VARCHAR)")}
              |        % 10000 < 1000),
              |capped AS (SELECT cust, supp FROM (
              |    SELECT cust, supp, row_number() OVER (
              |      PARTITION BY cust ORDER BY supp) AS rn FROM cs)
              |  WHERE rn <= $PivotDegreeCap),
              |cn AS (SELECT a.supp AS s_a, b.supp AS s_b,
              |    count(*) AS common_customers
              |  FROM capped a JOIN capped b
              |    ON a.cust = b.cust AND a.supp < b.supp
              |  GROUP BY 1, 2),
              |deg AS (SELECT supp, count(*) AS deg FROM cs GROUP BY 1)
              |SELECT s_a, s_b, common_customers,
              |  common_customers * 1000000
              |    // (da.deg + db.deg - common_customers) AS jaccard_ppm
              |FROM cn JOIN deg da ON da.supp = cn.s_a
              |  JOIN deg db ON db.supp = cn.s_b
              |ORDER BY jaccard_ppm DESC, common_customers DESC, s_a, s_b
              |LIMIT 30""".stripMargin)),

    // Degree assortativity: Pearson correlation of (deg(src), deg(dst))
    // over the directed edge pairs — "do hubs connect to hubs" (negative
    // for bipartite commerce graphs: big suppliers serve many small
    // customers). Integer degrees feed the exact-moments
    // identical-double-formula discipline from agg_corr_matrix.
    QueryDef("graph_assortativity",
      (s, dir) => {
        // persisted symmetric-distinct adjacency (see graph_modularity)
        val e = GraphFixtures.edgesSymDistinct(s, dir)
        val deg = e.groupBy(col("src").as("node"))
          .agg(count(lit(1)).cast("decimal(18,0)").as("deg"))
        val pairs = e
          .join(deg.select(col("node").as("src"), col("deg").as("dx")), "src")
          .join(deg.select(col("node").as("dst"), col("deg").as("dy")), "dst")
        def d(c: org.apache.spark.sql.Column) = c.cast("double")
        pairs.agg(count(lit(1)).as("n_edges"), sum("dx").as("sx"),
            sum("dy").as("sy"), sum(col("dx") * col("dy")).as("sxy"),
            sum(col("dx") * col("dx")).as("sxx"),
            sum(col("dy") * col("dy")).as("syy"))
          .select(col("n_edges"),
            round((d(col("n_edges")) * d(col("sxy"))
              - d(col("sx")) * d(col("sy")))
              / (sqrt(d(col("n_edges")) * d(col("sxx"))
                  - d(col("sx")) * d(col("sx")))
                * sqrt(d(col("n_edges")) * d(col("syy"))
                  - d(col("sy")) * d(col("sy")))), 6).as("assortativity"))
      },
      Some("""WITH base AS (
             |  SELECT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |e AS (SELECT DISTINCT src, dst FROM (
             |        SELECT src, dst FROM base
             |        UNION ALL SELECT dst, src FROM base)),
             |deg AS (SELECT src AS node, CAST(count(*) AS DECIMAL(18,0))
             |    AS deg FROM e GROUP BY 1),
             |p AS (SELECT a.deg AS dx, b.deg AS dy
             |  FROM e JOIN deg a ON a.node = e.src
             |  JOIN deg b ON b.node = e.dst),
             |m AS (SELECT count(*) AS n_edges, sum(dx) AS sx, sum(dy) AS sy,
             |    sum(CAST(dx AS DECIMAL(24,0)) * CAST(dy AS DECIMAL(24,0)))
             |      AS sxy,
             |    sum(CAST(dx AS DECIMAL(24,0)) * CAST(dx AS DECIMAL(24,0)))
             |      AS sxx,
             |    sum(CAST(dy AS DECIMAL(24,0)) * CAST(dy AS DECIMAL(24,0)))
             |      AS syy
             |  FROM p)
             |SELECT n_edges,
             |  round((CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE)
             |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             |   / (sqrt(CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
             |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |      * sqrt(CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
             |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             |    AS assortativity
             |FROM m""".stripMargin)),

    // Degree distribution of the bipartite order graph — the first
    // diagnostic you run before any graph algorithm (skew tells you
    // whether the per-key work is balanced). Distinct edges → per-node
    // degree agg → degree histogram; every stage key-bounded.
    QueryDef("graph_degree_hist",
      (s, dir) => {
        // persisted symmetric-distinct adjacency (see graph_modularity)
        val e = GraphFixtures.edgesSymDistinct(s, dir)
        e.groupBy("src").agg(count(lit(1)).as("degree"))
          .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
          .orderBy("degree")
      },
      Some("""WITH base AS (
             |  SELECT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
             |e AS (SELECT DISTINCT src, dst FROM (
             |        SELECT src, dst FROM base
             |        UNION ALL SELECT dst, src FROM base)),
             |d AS (SELECT src, count(*) AS degree FROM e GROUP BY 1)
             |SELECT degree, count(*) AS n_nodes FROM d
             |GROUP BY 1 ORDER BY degree""".stripMargin)),

    // Point-in-time (as-of) join against the SCD2 dimension — the
    // consuming half of scd2_dim: each fact row joins the dim version
    // valid at ITS OWN as-of date (equi-join on the key; the validity
    // range is a join residual, so the plan is a plain keyed join, not a
    // range join). Facts probing two dates straddling the change show
    // the +100 balance only on the later cohort.
    QueryDef("join_scd2_pointintime",
      (s, dir) => {
        val c = Tables.read(s, dir, "customer")
          .select("c_custkey", "c_name", "c_acctbal")
        val dim0 = c
          .withColumn("valid_from", lit("2024-01-01"))
          .withColumn("valid_to", lit(null).cast("string"))
          .withColumn("is_current", lit(true))
        val changes = c.filter(pmod(col("c_custkey"), lit(10)) === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 100)
        val dim = Scd2(dim0, changes, "c_custkey", "2024-06-01")
        val o = Tables.read(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"))
          .withColumn("as_of", when(pmod(col("o_orderkey"), lit(2)) === 0,
            lit("2024-03-01")).otherwise(lit("2024-07-01")))
        o.join(dim, o("o_custkey") === dim("c_custkey") &&
            col("valid_from") <= col("as_of") &&
            (col("valid_to").isNull || col("as_of") < col("valid_to")))
          .groupBy("as_of")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("c_acctbal").cast("decimal(18,6)")).cast("double")
              .as("sum_bal"))
          .orderBy("as_of")
      },
      Some("""WITH dim AS (
             |  SELECT c_custkey, c_acctbal, '2024-01-01' AS valid_from,
             |    CASE WHEN c_custkey % 10 = 0 THEN '2024-06-01' END AS valid_to
             |  FROM customer
             |  UNION ALL
             |  SELECT c_custkey, c_acctbal + 100, '2024-06-01', NULL
             |  FROM customer WHERE c_custkey % 10 = 0),
             |o AS (SELECT o_custkey, CASE WHEN o_orderkey % 2 = 0
             |        THEN '2024-03-01' ELSE '2024-07-01' END AS as_of
             |      FROM orders)
             |SELECT as_of, count(*) AS n_orders,
             |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
             |    AS sum_bal
             |FROM o JOIN dim ON c_custkey = o_custkey
             |  AND valid_from <= as_of
             |  AND (valid_to IS NULL OR as_of < valid_to)
             |GROUP BY 1 ORDER BY as_of""".stripMargin)),

    // Z-order (Morton) interleave of two bounded dimension keys — the
    // layout primitive behind multi-column data skipping: writing files
    // sorted by zkey keeps BOTH dimensions locally clustered, so min/max
    // row-group stats prune on either predicate. Pure bit arithmetic
    // (shift/or folds), identical in both engines; demo output is the
    // first 200 (zkey-ordered) rows, i.e. the layout a writer would emit.
    QueryDef("fn_zorder",
      (s, dir) => {
        val x = pmod(col("l_partkey"), lit(1024L))
        val y = pmod(col("l_suppkey"), lit(1024L))
        val zkey = graft.io.Layout.mortonInterleave(x, y, bits = 10)
        Tables.read(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            x.as("zx"), y.as("zy"), zkey.as("zkey"))
          .orderBy("zkey", "l_orderkey", "l_linenumber")
          .limit(200)
      },
      Some {
        val terms = (0 until 10).map { i =>
          s"((((l_partkey % 1024) >> $i) & 1) << ${2 * i}) | " +
            s"((((l_suppkey % 1024) >> $i) & 1) << ${2 * i + 1})"
        }.mkString(" | ")
        s"""SELECT l_orderkey, l_linenumber,
           |l_partkey % 1024 AS zx, l_suppkey % 1024 AS zy,
           |($terms) AS zkey
           |FROM lineitem
           |ORDER BY zkey, l_orderkey, l_linenumber LIMIT 200""".stripMargin
      }),

    // RANGE-frame rolling window: trailing 24h sum/count per user on the
    // exact event-time axis (µs precision both engines — no float epoch).
    // DECIMAL window sum keeps partial-order independence.
    QueryDef("window_rolling_range",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("us"))
          .rangeBetween(-86400000000L, 0)
        Tables.read(s, dir, "events")
          .withColumn("us", unix_micros(col("ts")))
          .select(col("event_id"), col("user_id"),
            sum(col("value").cast("decimal(18,6)")).over(w)
              .cast("double").as("w24h_sum"),
            count(lit(1)).over(w).as("w24h_n"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT event_id, user_id,
             |CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS w24h_sum,
             |count(*) OVER w AS w24h_n
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             |  RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
             |ORDER BY user_id, event_id""".stripMargin))
  )
}
