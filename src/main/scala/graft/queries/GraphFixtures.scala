package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Artifacts, SessionMemo, Tables}
import graft.ops.Graph

/** Shared, fingerprint-keyed persisted artifacts for the graph family.
  *
  * Seven queries (`graph_pagerank`, `graph_hop_distance`, `graph_kcore`,
  * `graph_community_lp`, `graph_modularity`, `graph_assortativity`,
  * `graph_degree_hist`) analyze the SAME bipartite order graph
  * (supplier*2 → customer*2+1 from lineitem⋈orders). Rebuilding that join
  * per query is fine at sf0.1, but at sf2 it crosses the broadcast
  * threshold and becomes a full shuffle join PER QUERY (PLANS.md round-10
  * finding 2) — at a 100 TB corpus the edge build dominates every graph
  * metric that consumes it. Production graph stacks persist the edge list
  * once and run the metric zoo against the artifact; this object does
  * that through `graft.core.Artifacts` (content-fingerprinted key, atomic
  * publish, memoized scan):
  *
  *  - **key**: the fingerprint reads only the join/endpoint keys of the
  *    two source tables (no join, no shuffle), so a regenerated table at
  *    the same path can never serve a stale artifact;
  *  - **raw-equivalent content**: the edge fixture stores the EXACT join
  *    output (directed, duplicates preserved), so multiplicity-sensitive
  *    consumers read it unchanged.
  *
  * **The iterative operators' input contract.** The loops in
  * [[graft.ops.Graph]] never distinct, symmetrize, collect a node set or
  * count one themselves; every caller hands them the prepared input, and
  * these fixtures are how declared queries prepare it:
  *  - `pagerank`, `personalizedPagerank` and `hits` take the DIRECTED
  *    distinct edge set ([[edgesDistinct]]);
  *  - `hopDistances`, `seededDistances`, `kcore` and `labelPropagation`
  *    take the SYMMETRIC distinct edge set ([[edgesSymDistinct]]: both
  *    orientations of every edge, each once);
  *  - alongside it, the node frame (column `node`) and/or its row count:
  *    every endpoint ([[nodesWithCount]]; symmetrizing keeps the endpoint
  *    set, so one node fixture serves both edge sets), or, for `hits`, the
  *    distinct sources ([[srcNodesWithCount]]). The count is the
  *    per-round broadcast gate's input.
  * A caller with other edges (a spec, a subgraph) prepares the same four
  * things in plan: distinct, symmetrize, endpoint set, count.
  *
  * The label-propagation fixture layers the same idiom one level up: LP
  * labels are deterministic given (edges, rounds) — synchronous rounds,
  * self-vote, min-label tie-break (`Graph.labelPropagation`) — so
  * `graph_community_lp` and `graph_modularity` can share ONE propagation
  * instead of each paying the full iterative loop (round-8 verdict item 5:
  * modularity re-ran the LP that community_lp just computed).
  * ArtifactsSpec pins persisted ≡ fresh for every graph artifact.
  *
  * Reference: the graph family models relationship analytics over the ETL
  * star (orders fact ⋈ dims, etl/fact_loaders/load_311.py joins); the
  * fixture discipline mirrors warehouse materialized intermediates.
  */
object GraphFixtures {

  /** The artifact path of graph artifact `kind`: keyed on the join and
    * endpoint keys of both source tables (two narrow column scans, zero
    * shuffles).
    */
  private def path(s: SparkSession, dir: String, kind: String): String =
    Artifacts.key(s"graph_$kind", dir,
      Tables.read(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
      Tables.read(s, dir, "orders").select("o_orderkey", "o_custkey"))

  /** The parquet artifact at `p` with its row count, memoized per session
    * (the artifact cannot change within one).
    */
  private def counted(s: SparkSession, p: String)(
      build: => DataFrame): (DataFrame, Long) = {
    val df = Artifacts.parquet(s, p)(build)
    (df, SessionMemo(s, s"count_$p")(java.lang.Long.valueOf(df.count()))
      .longValue)
  }

  /** The directed bipartite order-graph edge list — the raw
    * lineitem⋈orders output `(src = l_suppkey*2, dst = o_custkey*2+1)`,
    * duplicates preserved. First caller pays the join once per corpus;
    * every other graph query scans the parquet.
    */
  def edges(s: SparkSession, dir: String): DataFrame =
    Artifacts.parquet(s, path(s, dir, "edges")) {
      Tables.read(s, dir, "lineitem")
        .join(Tables.read(s, dir, "orders")
            .select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("l_suppkey") * 2).as("src"),
          (col("o_custkey") * 2 + 1).as("dst"))
    }

  /** The DIRECTED DISTINCT edge set over [[edges]] — what the directed
    * iterative family (pagerank, personalized pagerank, HITS) consumes.
    * Before r15 each of those three queries re-ran the same
    * `edges.distinct()` shuffle per query per bench pass; the deduped
    * directed adjacency is as much a persisted corpus artifact as
    * [[edgesSymDistinct]] is for the traversal family.
    */
  def edgesDistinct(s: SparkSession, dir: String): DataFrame =
    Artifacts.parquet(s, path(s, dir, "edgedist")) {
      edges(s, dir).select("src", "dst").distinct()
    }

  /** The node set of the order graph (all endpoints, distinct) WITH its
    * memoized count — the broadcast-gate input every iterative loop
    * needs. Derived from [[edgesDistinct]]; the count is one tiny agg,
    * SessionMemo'd because it cannot change within a session.
    */
  def nodesWithCount(s: SparkSession, dir: String): (DataFrame, Long) =
    counted(s, path(s, dir, "nodes")) {
      val e = edgesDistinct(s, dir)
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node"))).distinct()
    }

  /** The distinct SOURCE nodes of [[edgesDistinct]] WITH memoized count —
    * HITS's initial hub frame and broadcast-gate input (hub scores exist
    * only for nodes with out-edges). The directed sibling of
    * [[nodesWithCount]], same discipline (r15).
    */
  def srcNodesWithCount(s: SparkSession, dir: String): (DataFrame, Long) =
    counted(s, path(s, dir, "srcnodes")) {
      edgesDistinct(s, dir).select(col("src").as("node")).distinct()
    }

  /** The SYMMETRIZED DISTINCT adjacency over [[edges]] — the artifact the
    * BFS/traversal family actually consumes. Round-13: the sf4 decade
    * audit decomposed graph_closeness's shuffle as 85% the per-query
    * doubled-edge `distinct` (216→516 MB for 2× raw edges — map-side
    * dedup dilutes as the key space outgrows task splits, the documented
    * saturation class), vs ~45-97 MB for the BFS state itself. A
    * production graph stack persists the deduped adjacency once next to
    * the raw edge list; with this artifact every traversal starts from a
    * parquet scan and the per-query distinct disappears.
    */
  def edgesSymDistinct(s: SparkSession, dir: String): DataFrame =
    Artifacts.parquet(s, path(s, dir, "edgesym")) {
      val e = edges(s, dir)
      e.select("src", "dst")
        .unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
    }

  /** Deterministic label-propagation labels over [[edgesSymDistinct]]
    * after `rounds` synchronous self-vote min-tie-break rounds — fit once
    * per (corpus, rounds), shared by the community and modularity queries.
    */
  def lpLabels(s: SparkSession, dir: String, rounds: Int): DataFrame =
    Artifacts.parquet(s, path(s, dir, s"lp$rounds")) {
      Graph.labelPropagation(edgesSymDistinct(s, dir),
        nodesWithCount(s, dir), rounds)
    }
}
