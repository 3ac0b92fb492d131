package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.Graph
import graft.queries.GraphFixtures

/** The graph-family persisted fixtures must be invisible to semantics:
  * the parquet artifact a query loads is row-identical to the frame it
  * used to build inline, on BOTH the cold (build) and warm (cache-hit)
  * paths — and what consumers pay for is a parquet scan, not the build.
  * (Persisted ≡ fresh for the other graph artifacts lives in ArtifactsSpec.)
  */
class GraphFixturesSpec extends SparkSpec {

  private def freshEdges = Tables.read(spark, sf, "lineitem")
    .join(Tables.read(spark, sf, "orders").select("o_orderkey", "o_custkey"),
      col("l_orderkey") === col("o_orderkey"))
    .select((col("l_suppkey") * 2).as("src"),
      (col("o_custkey") * 2 + 1).as("dst"))

  test("edge fixture ≡ fresh join, duplicates preserved, warm ≡ cold") {
    val fresh = freshEdges.groupBy("src", "dst").agg(count(lit(1)).as("n"))
      .orderBy("src", "dst").collect()
    val cold = GraphFixtures.edges(spark, sf)
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      .orderBy("src", "dst").collect()
    val warm = GraphFixtures.edges(spark, sf)
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
      .orderBy("src", "dst").collect()
    assert(cold.length == fresh.length && cold.sameElements(fresh))
    assert(warm.sameElements(fresh))
  }

  test("LP label fixture ≡ fresh labelPropagation") {
    val g = PreparedGraph(freshEdges)
    val fresh = Graph.labelPropagation(g.symmetric, g.nodes, rounds = 3)
      .orderBy("node").collect()
    val fixture = GraphFixtures.lpLabels(spark, sf, rounds = 3)
      .orderBy("node").collect()
    assert(fixture.length == fresh.length && fixture.sameElements(fresh))
  }

  test("edge fixture plan is a parquet scan, not a join") {
    // warm the fixture, then assert the loaded plan has no Join node —
    // the whole point is that consumers pay a scan, not the build
    GraphFixtures.edges(spark, sf).count()
    val plan = GraphFixtures.edges(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Join"), s"expected a bare scan, got:\n$plan")
  }
}
