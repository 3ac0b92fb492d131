package graft

import org.apache.spark.sql.functions._

import graft.ops.{Graph, Scd2}

/** Structural invariants and hand-computed values of the graph/SCD2
  * operators on hand-built frames (the oracle pins the values on the
  * order graph). The iterative loops take prepared input, built here by
  * [[PreparedGraph]].
  */
class GraphSpec extends SparkSpec {

  test("seededDistances: per-seed BFS distances on a path + an island") {
    import spark.implicits._
    // path 1-2-3-4 plus disconnected island 10-11
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("src", "dst")
    val g = PreparedGraph(edges)
    val d = Graph.seededDistances(g.symmetric, g.nodes._1, col("node") <= 2,
        rounds = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(d((1L, 1L)) === 0L && d((1L, 2L)) === 1L)
    assert(d((1L, 3L)) === 2L && d((1L, 4L)) === 3L)
    assert(d((2L, 1L)) === 1L && d((2L, 4L)) === 2L)
    // the island never appears in any seed's ball; non-seeds spawn none
    assert(!d.contains((1L, 10L)) && !d.contains((2L, 11L)))
    assert(!d.keys.exists(_._1 > 2L))
    // sparse state: exactly the union of the two 3-balls
    assert(d.size === 8)
  }

  test("pagerank: one rank per node, floor 0.15, sinks keep the floor") {
    import spark.implicits._
    // star: 1 -> {2,3,4}; 2..4 are sinks, 1 has no in-edges
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val g = PreparedGraph(edges)
    val r = Graph.pagerank(g.directed, g.nodes, 2)
      .as[(Long, Long)].collect().toMap
    assert(r.size === 4)
    // source node: no in-edges => exactly the 0.15 floor every round
    assert(r(1L) === Graph.BaseScaled)
    // each sink gets 0.15 + 0.85 * (r(1)/3): round 2 uses r(1)=0.15*Scale
    val expected = Graph.BaseScaled +
      (Graph.DampNum * (Graph.BaseScaled / 3)) / 1000
    assert(r(2L) === expected && r(3L) === expected && r(4L) === expected)
  }

  test("pagerank: broadcast hints are gated — same ranks, shuffle joins past the gate") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val g = PreparedGraph(edges)
    val hinted = Graph.pagerank(g.directed, g.nodes, 2)
    // past the gate (broadcastMaxNodes = 0) the hints must vanish; with
    // auto-broadcast disabled the SAME logical plan has to degrade to
    // SortMergeJoin/ShuffledHashJoin — this is what saves the driver at
    // 100× nodes, where a forced broadcast would OOM instead of shuffle
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = confs.map(k => k -> spark.conf.getOption(k))
    confs.foreach(spark.conf.set(_, "-1"))
    try {
      val gated = Graph.pagerank(g.directed, g.nodes, 2,
        broadcastMaxNodes = 0L)
      val rows = gated.as[(Long, Long)].collect().toMap
      val plan = gated.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), plan)
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        plan)
      // bit-identical fixed-point ranks regardless of join strategy
      assert(rows === hinted.as[(Long, Long)].collect().toMap)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("personalizedPagerank: restart mass only on seeds, exact fixed-point ranks") {
    import spark.implicits._
    // 1 -> {2, 3}, 2 -> 3, plus an unseeded island 7 -> 8; seed = {1}
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (7L, 8L)).toDF("src", "dst")
    val g = PreparedGraph(edges)
    val r = Graph.personalizedPagerank(g.directed, g.nodes,
        col("node") === 1L, iters = 2)
      .as[(Long, Long)].collect().toMap
    // round 1: r1 = 0.15, r2 = r3 = 0.85 * (1.0 div 2) = 0.425
    // round 2: r2 = 0.85 * (0.15 div 2) = 0.06375,
    //          r3 = 0.85 * (0.15 div 2 + 0.425 div 1) = 0.425
    assert(r === Map(1L -> 150000000L, 2L -> 63750000L, 3L -> 425000000L,
      7L -> 0L, 8L -> 0L))
  }

  test("hits: exact max-renormed hub and authority scores") {
    import spark.implicits._
    // hubs 1 -> {3, 4}, 2 -> 3; the duplicate edge must not count twice
    val edges = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 3L)).toDF("src", "dst")
    val g = PreparedGraph(edges)
    val got = Graph.hits(g.directed, g.hubs, iters = 2)
      .as[(String, Long, Long)].collect()
      .map { case (role, n, s) => (role, n) -> s }.toMap
    // round 1: a = (3: 2e6, 4: 1e6) / 2e6 -> (1e6, 500000);
    //          h = (1: 1.5e6, 2: 1e6) / 1.5e6 -> (1e6, 666666)
    // round 2: a = (3: 1666666, 4: 1e6) / 1666666 -> (1e6, 600000);
    //          h = (1: 1.6e6, 2: 1e6) / 1.6e6 -> (1e6, 625000)
    assert(got === Map(("hub", 1L) -> 1000000L, ("hub", 2L) -> 625000L,
      ("authority", 3L) -> 1000000L, ("authority", 4L) -> 600000L))
  }

  test("hopDistances: hops within the round bound, -1 beyond it and off-component") {
    import spark.implicits._
    // path 1-2-3-4 plus island 10-11; source {1}, two rounds
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("src", "dst")
    val g = PreparedGraph(edges)
    val hop = Graph.hopDistances(g.symmetric, g.nodes, col("node") === 1L,
        rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(hop === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> -1L,
      10L -> -1L, 11L -> -1L))
  }

  test("kcore: synchronous peel cascades one layer per round") {
    import spark.implicits._
    // triangle 1-2-3 with the tail 3-4-5, k = 2: round 1 peels 5, round 2
    // peels 4 (its degree fell to 1), leaving the triangle
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val g = PreparedGraph(edges)
    def core(rounds: Int) = Graph.kcore(g.symmetric, g.nodes._2, k = 2,
        rounds = rounds)
      .as[(Long, Long)].collect().toMap
    assert(core(1) === Map(1L -> 2L, 2L -> 2L, 3L -> 3L))
    assert(core(2) === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("scd2: changed keys get a closed old version and one current new one") {
    import spark.implicits._
    val dim = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
      .withColumn("valid_from", lit("2024-01-01"))
      .withColumn("valid_to", lit(null).cast("string"))
      .withColumn("is_current", lit(true))
    val changes = Seq((2L, "b2")).toDF("k", "v")
    val out = Scd2(dim, changes, "k", "2024-06-01").cache()
    assert(out.count() === 4) // 3 originals + 1 new version
    val k2 = out.filter(col("k") === 2)
      .select("v", "valid_to", "is_current")
      .as[(String, Option[String], Boolean)].collect().toSet
    assert(k2 === Set(("b", Some("2024-06-01"), false),
      ("b2", None, true)))
    // untouched keys: still a single current row with open validity
    assert(out.filter(col("k") === 1 && col("is_current") &&
      col("valid_to").isNull).count() === 1)
  }

  test("triangle stats: K4 counts 4 triangles despite dups/reversals/loops") {
    import spark.implicits._
    // K4 on {1,2,3,4} with noisy input: duplicates, both orientations, a
    // self-loop — normalization must reduce to the 6 canonical edges.
    val edges = Seq(
      (1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L),
      (3L, 2L), (2L, 4L), (3L, 4L), (3L, 4L), (4L, 4L)
    ).toDF("u", "v")
    val row = Graph.triangleStats(edges).collect().head
    assert(row.getLong(0) == 4L, "n_nodes")
    assert(row.getLong(1) == 6L, "n_edges")
    assert(row.getLong(2) == 4L, "n_triangles")
    // K4: every vertex has degree 3 -> 4 * C(3,2) = 12 wedges, cc = 1
    assert(row.getDouble(3) == 1.0, "global_cc")
  }

  test("triangle stats: ids beyond 2^32 and negative ids still order correctly") {
    import spark.implicits._
    // a packed d*2^32+n orientation key overflows/inverts on these ids;
    // the struct order must still count the single triangle exactly
    val big = 1L << 40
    val edges = Seq((-5L, big), (big, 7L), (7L, -5L), (7L, big + 1))
      .toDF("u", "v")
    val row = Graph.triangleStats(edges).collect().head
    assert(row.getLong(0) == 4L, "n_nodes")
    assert(row.getLong(1) == 4L, "n_edges")
    assert(row.getLong(2) == 1L, "n_triangles")
  }

  test("triangle stats: path graph has zero triangles, cc 0") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("u", "v")
    val row = Graph.triangleStats(edges).collect().head
    assert(row.getLong(2) == 0L && row.getDouble(3) == 0.0)
  }

  test("label propagation separates two cliques joined by a bridge") {
    import spark.implicits._
    def clique(ids: Seq[Long]): Seq[(Long, Long)] =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (clique(0L to 4L) ++ clique(10L to 14L) :+ (4L, 10L))
      .toDF("src", "dst")
    val g = PreparedGraph(edges)
    val got = Graph.labelPropagation(g.symmetric, g.nodes, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each clique converges to its minimum id; the bridge doesn't merge them
    assert((0L to 4L).forall(got(_) == 0L), s"clique A: $got")
    assert((10L to 14L).forall(got(_) == 10L), s"clique B: $got")
  }

  test("label propagation is invariant to input partitioning") {
    import spark.implicits._
    val edges = graft.core.Tables.read(spark, sf, "lineitem")
      .join(graft.core.Tables.read(spark, sf, "orders")
          .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2).as("src"),
        (col("o_custkey") * 2 + 1).as("dst"))
      .filter(col("src") < 400) // deterministic subgraph, not limit()
    def lp(e: org.apache.spark.sql.DataFrame) = {
      val g = PreparedGraph(e)
      Graph.labelPropagation(g.symmetric, g.nodes, rounds = 2)
    }
    val a = lp(edges.repartition(1))
    val b = lp(edges.repartition(13))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("cappedNeighborPairs bounds one adversarial hot pivot at C(cap,2)") {
    import spark.implicits._
    // one customer serving 5000 suppliers (the hot pivot) + one normal
    // pivot with 3 — uncapped, the hot pivot alone would explode
    // C(5000,2) ≈ 12.5M structs inside a single task
    val sets = Seq(
      (1L, (1L to 5000L).toArray),
      (2L, Array(7L, 3L, 9L).sorted))
      .toDF("cust", "supps")
    val cap = 256
    val pairs = Graph.cappedNeighborPairs(sets, "supps", cap)
    val n = pairs.count()
    val expected = cap.toLong * (cap - 1) / 2 + 3 // C(256,2) + C(3,2)
    assert(n === expected, s"pair count $n != $expected")
    // determinism: the cap keeps the SMALLEST neighbors, so no pair from
    // the hot pivot reaches past supplier id `cap`
    val maxB = pairs.filter(col("s_b") > 9L).agg(max("s_b"))
      .collect().head.getLong(0)
    assert(maxB === cap.toLong, s"cap slice not smallest-first: $maxB")
    // every pair is ordered
    assert(pairs.filter(col("s_a") >= col("s_b")).count() === 0L)
  }

  test("cappedNeighborPairs with cap above max degree is the identity explode") {
    import spark.implicits._
    val sets = Seq((1L, Array(2L, 5L, 8L))).toDF("k", "nbrs")
    val got = Graph.cappedNeighborPairs(sets, "nbrs", 100)
      .as[(Long, Long)].collect().toSet
    assert(got === Set((2L, 5L), (2L, 8L), (5L, 8L)))
  }

  test("packPair round-trips and orders in-bound keys, raises past 2^31") {
    // Round-7 advice: the (a<<32)+b pack's validity bound was only a
    // comment — a 2³¹⁺ key would flip the packed sign bit and silently
    // corrupt top-k ordering. Now the guard raises instead.
    import spark.implicits._
    val ok = Seq((0L, 0L), (1L, 2L), ((1L << 31) - 1, (1L << 31) - 1))
      .toDF("a", "b")
      .select(col("a"), col("b"), Graph.packPair(col("a"), col("b")).as("pp"))
      .select(col("a"), col("b"), expr("shiftright(pp, 32)").as("da"),
        expr("pp & 4294967295").as("db"), col("pp"))
      .collect()
    for (r <- ok) {
      assert(r.getLong(0) === r.getLong(2) && r.getLong(1) === r.getLong(3))
      assert(r.getLong(4) >= 0L) // sign bit untouched ⇒ ordering holds
    }
    for (bad <- Seq((1L << 31, 1L), (1L, 1L << 31), (-1L, 1L))) {
      val e = intercept[Exception] {
        Seq(bad).toDF("a", "b")
          .select(Graph.packPair(col("a"), col("b"))).collect()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("packPair")), s"$bad: $e")
    }
  }
}
