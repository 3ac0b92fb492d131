package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The prepared input the iterative `Graph` operators take, built in plan
  * from a raw `(src, dst)` edge frame the way `GraphFixtures` publishes it
  * for a corpus: distinct, symmetrize, endpoint set, count.
  */
final case class PreparedGraph(edges: DataFrame) {

  /** The distinct directed edge set (`GraphFixtures.edgesDistinct`). */
  lazy val directed: DataFrame = edges.select("src", "dst").distinct()

  /** Both orientations of every edge, each once
    * (`GraphFixtures.edgesSymDistinct`).
    */
  lazy val symmetric: DataFrame = edges.select("src", "dst")
    .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
    .distinct()

  /** Every endpoint with its count (`GraphFixtures.nodesWithCount`). */
  lazy val nodes: (DataFrame, Long) = counted(
    directed.select(col("src").as("node"))
      .unionByName(directed.select(col("dst").as("node"))).distinct())

  /** The distinct sources with their count
    * (`GraphFixtures.srcNodesWithCount`).
    */
  lazy val hubs: (DataFrame, Long) =
    counted(directed.select(col("src").as("node")).distinct())

  private def counted(df: DataFrame): (DataFrame, Long) = (df, df.count())
}
