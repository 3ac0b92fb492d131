package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Artifacts, Tables}
import graft.ops.Graph
import graft.queries.GraphFixtures

/** The persisted-artifact layer (graft.core.Artifacts): builds once,
  * keys on content (not on a row count), publishes atomically, and what
  * a query loads is row-identical to the frame it would build inline.
  */
class ArtifactsSpec extends SparkSpec {

  /** A key of a kind no other suite or query uses, so every run is cold. */
  private def freshKey(kind: String, input: DataFrame): String =
    Artifacts.key(s"spec_${kind}_${System.nanoTime()}", sf, input)

  /** The multiset of rows of `df`, in a stable order. */
  private def rows(df: DataFrame) =
    df.groupBy(df.columns.map(col).toIndexedSeq: _*)
      .agg(count(lit(1)).as("n_copies"))
      .orderBy(df.columns.map(col).toIndexedSeq: _*).collect().toSeq

  test("the builder runs once: the cold call builds, the warm call reuses") {
    val src = spark.range(10).toDF("id")
    val path = freshKey("once", src)
    var builds = 0
    def get() = Artifacts.parquet(spark, path) { builds += 1; src }
    try {
      assert(rows(get()) == rows(src))
      assert(builds == 1)
      assert(rows(get()) == rows(src))
      assert(builds == 1, "the warm call must not invoke the builder")
    } finally Artifacts.delete(new File(path))
  }

  test("same row count, one changed value: a different key") {
    val a = spark.range(100).select(col("id"), (col("id") * 2).as("v"))
    val b = spark.range(100).select(col("id"),
      when(col("id") === 7, lit(-1L)).otherwise(col("id") * 2).as("v"))
    val (fa, fb) = (Artifacts.fingerprint(a), Artifacts.fingerprint(b))
    // a row-count key could not tell these apart and would serve a stale
    // artifact; the content fingerprint does
    assert(fa.takeWhile(_ != '_') == fb.takeWhile(_ != '_'))
    assert(Artifacts.key("k", sf, a) != Artifacts.key("k", sf, b))
    // ... while the key itself is stable for equal content
    assert(Artifacts.key("k", sf, a) ==
      Artifacts.key("k", sf, spark.range(100)
        .select(col("id"), (col("id") * 2).as("v"))))
  }

  test("a zero-row frame fingerprints to a key") {
    val empty = Tables.read(spark, sf, "orders").filter(lit(false))
    assert(Artifacts.fingerprint(empty) == "0_0")
    assert(Artifacts.key("k", sf, empty).endsWith("_0_0"))
  }

  test("a throwing builder propagates and leaves no target and no stage") {
    val path = freshKey("throw", spark.range(3).toDF())
    val target = new File(path)
    val e = intercept[IllegalStateException] {
      Artifacts.materialize(path) { stage =>
        spark.range(5).write.parquet(stage) // a partial build on disk
        throw new IllegalStateException("builder failed")
      }
    }
    assert(e.getMessage == "builder failed")
    assert(!target.exists())
    val left = target.getParentFile.list().filter(_.startsWith(target.getName))
    assert(left.isEmpty, s"leaked: ${left.mkString(", ")}")
  }

  test("persisted ≡ fresh on the first and the repeat call, every graph artifact") {
    val fresh = Tables.read(spark, sf, "lineitem")
      .join(Tables.read(spark, sf, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2).as("src"),
        (col("o_custkey") * 2 + 1).as("dst"))
    val dist = fresh.distinct()
    val nodes = dist.select(col("src").as("node"))
      .unionByName(dist.select(col("dst").as("node"))).distinct()
    val cases: Seq[(String, () => DataFrame, DataFrame)] = Seq(
      // duplicates preserved: the edge list is the raw join output
      ("edges", () => GraphFixtures.edges(spark, sf), fresh),
      ("edgedist", () => GraphFixtures.edgesDistinct(spark, sf), dist),
      ("edgesym", () => GraphFixtures.edgesSymDistinct(spark, sf),
        dist.unionByName(dist.select(col("dst").as("src"),
          col("src").as("dst"))).distinct()),
      ("nodes", () => GraphFixtures.nodesWithCount(spark, sf)._1, nodes),
      ("srcnodes", () => GraphFixtures.srcNodesWithCount(spark, sf)._1,
        dist.select(col("src").as("node")).distinct()),
      ("lp3", () => GraphFixtures.lpLabels(spark, sf, rounds = 3),
        Graph.labelPropagation(fresh, rounds = 3)))
    cases.foreach { case (kind, persisted, expected) =>
      val want = rows(expected)
      assert(want.nonEmpty, kind)
      assert(rows(persisted()) == want, s"$kind: first call")
      assert(rows(persisted()) == want, s"$kind: second call")
    }
    assert(GraphFixtures.nodesWithCount(spark, sf)._2 == nodes.count())
  }
}

/** Source lint: the persisted-artifact idiom has one home. Queries never
  * publish by hand (no `renameTo(`, no `_stage_` directories), and the
  * data-dir tag of artifact keys is computed in `core/Artifacts.scala`
  * only, so the key format cannot drift from what the benchmark harness
  * matches on.
  */
class ArtifactLintSpec extends AnyFunSuite {

  private def sources(root: String): Seq[File] = {
    val dir = new File(root)
    assert(dir.isDirectory, s"run from the repo root: $root not found")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(dir)
  }

  private def hits(files: Seq[File], needle: String): Seq[String] =
    files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if line.contains(needle) => s"${f.getPath}:${i + 1}"
      }.toList
      finally src.close()
    }

  test("queries publish no artifact by hand") {
    val queries = sources("src/main/scala/graft/queries")
    val found = hits(queries, "renameTo(") ++ hits(queries, "_stage_")
    assert(found.isEmpty,
      s"hand-rolled stage/rename publish (use graft.core.Artifacts): $found")
  }

  test("the artifact dir tag is computed in core/Artifacts.scala only") {
    val needle = "replaceAll(\"[^0-9a-zA-Z]\""
    val self = "ArtifactsSpec.scala"
    val found = hits(
      (sources("src/main/scala") ++ sources("src/test/scala"))
        .filterNot(f => f.getName == self ||
          f.getPath.endsWith("core/Artifacts.scala")), needle)
    assert(found.isEmpty, s"inline dir tag (use Artifacts.dirTag): $found")
  }
}
