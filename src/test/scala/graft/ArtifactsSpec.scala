package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Artifacts, Tables}
import graft.io.Sink
import graft.ops.Graph
import graft.queries.GraphFixtures
import graft.sources.WarehouseMeta

/** The persisted-artifact layer (graft.core.Artifacts): builds once,
  * keys on content (not on a row count), publishes atomically, and what
  * a query loads is row-identical to the frame it would build inline.
  */
class ArtifactsSpec extends SparkSpec {

  /** A key of a kind no other suite or query uses, so every run is cold
    * (the scratch root's name is unique to the suite run). */
  private def freshKey(kind: String, input: DataFrame): String =
    Artifacts.key(s"spec_${kind}_${scratchRoot.getName}", sf, input)

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

  test("a warehouse build that throws after its first commit leaves nothing") {
    val src = spark.range(20).toDF("k")
    val path = freshKey("whthrow", src)
    val target = new File(path)
    val e = intercept[IllegalStateException] {
      Artifacts.materialize(path) { stage =>
        Sink.overwrite(src, stage, format = "graft-warehouse")
        // a committed generation, its job log and checksum files on disk
        assert(WarehouseMeta.generations(stage) == Seq(0L))
        assert(new File(stage, "_jobs").list().nonEmpty)
        assert(new File(stage, "_manifest").list().exists(_.endsWith(".crc")))
        throw new IllegalStateException("second load failed")
      }
    }
    assert(e.getMessage == "second load failed")
    assert(!target.exists())
    val left = target.getParentFile.list().filter(_.startsWith(target.getName))
    assert(left.isEmpty, s"leaked: ${left.mkString(", ")}")
  }

  /** The declared queries that read a table `Artifacts.materialize`
    * publishes after one build of its whole write sequence. */
  private val warehouseFixtureQueries = Seq(
    "catalog_sql_merge", "catalog_sql_warehouse", "join_warehouse_spj",
    "scan_time_travel", "scan_warehouse_agg", "scan_warehouse_agg_grouped",
    "scan_warehouse_bloom_pruned", "scan_warehouse_changes",
    "scan_warehouse_history", "scan_warehouse_limit",
    "scan_warehouse_metadata_cols", "scan_warehouse_pruned",
    "scan_warehouse_pruned_str", "scan_warehouse_runtime_pruned",
    "scan_warehouse_topn", "sink_warehouse_compact",
    "sink_warehouse_delete", "sink_warehouse_delete_cow",
    "sink_warehouse_delete_mor", "sink_warehouse_evolve",
    "sink_warehouse_merge", "sink_warehouse_update_cow",
    "sink_warehouse_update_mor", "sink_warehouse_vacuum",
    "stream_warehouse_changes", "stream_warehouse_merge",
    "stream_warehouse_sink", "stream_warehouse_source")

  test("every warehouse fixture builds once: the warm call only reads") {
    // a private copy of the corpus: its data-dir tag is unique to this
    // run, so every fixture builds cold, and the test removes what it built
    val corpus = new File(scratch("corpus"))
    corpus.mkdirs()
    new File(sf).listFiles().foreach(f =>
      java.nio.file.Files.copy(f.toPath, new File(corpus, f.getName).toPath))
    val tag = s"_${Artifacts.dirTag(corpus.getPath)}_"
    def ours = new File("/tmp").listFiles().toSeq
      .filter(_.getName.contains(tag))
    // every `/tmp/graft_*` entry, and every path under this corpus's
    // artifacts (generations, job logs, data files)
    def tmpState(): Set[String] = {
      def walk(f: File, rel: String): Seq[String] =
        rel +: Option(f.listFiles()).toSeq.flatten
          .flatMap(c => walk(c, s"$rel/${c.getName}"))
      new File("/tmp").listFiles().toSeq
        .filter(_.getName.startsWith("graft_")).flatMap { f =>
          if (f.getName.contains(tag)) walk(f, f.getName) else Seq(f.getName)
        }.toSet
    }
    def results() = warehouseFixtureQueries.map(q =>
      q -> SparkEntry.queries(q)(spark, corpus.getPath).collect().toSeq)
    try {
      val before = tmpState()
      val cold = results()
      val built = tmpState()
      // one published artifact per fixture: 24 warehouse tours (the
      // streaming sink's source, sink and checkpoint are one) + time travel
      val published = (built -- before).filterNot(_.contains("/"))
      assert(published.size == 25 &&
        published.forall(_.startsWith("graft_wh_")), published)
      val warm = results()
      val after = tmpState()
      warehouseFixtureQueries.indices.foreach(i =>
        assert(warm(i) == cold(i), s"${cold(i)._1}: warm result differs"))
      assert(after == built, "the warm call wrote: " +
        s"added ${(after -- built).toSeq.sorted.take(10)}, " +
        s"removed ${(built -- after).toSeq.sorted.take(10)}")
      val stages = (after -- before).filter(_.contains("_stage_"))
      assert(stages.isEmpty, s"stage left: ${stages.toSeq.sorted.take(10)}")
    } finally ours.foreach(Artifacts.delete)
  }

  test("persisted ≡ fresh on the first and the repeat call, every graph artifact") {
    val fresh = Tables.read(spark, sf, "lineitem")
      .join(Tables.read(spark, sf, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("l_suppkey") * 2).as("src"),
        (col("o_custkey") * 2 + 1).as("dst"))
    val g = PreparedGraph(fresh)
    val cases: Seq[(String, () => DataFrame, DataFrame)] = Seq(
      // duplicates preserved: the edge list is the raw join output
      ("edges", () => GraphFixtures.edges(spark, sf), fresh),
      ("edgedist", () => GraphFixtures.edgesDistinct(spark, sf), g.directed),
      ("edgesym", () => GraphFixtures.edgesSymDistinct(spark, sf),
        g.symmetric),
      ("nodes", () => GraphFixtures.nodesWithCount(spark, sf)._1, g.nodes._1),
      ("srcnodes", () => GraphFixtures.srcNodesWithCount(spark, sf)._1,
        g.hubs._1),
      ("lp3", () => GraphFixtures.lpLabels(spark, sf, rounds = 3),
        Graph.labelPropagation(g.symmetric, g.nodes, rounds = 3)))
    cases.foreach { case (kind, persisted, expected) =>
      val want = rows(expected)
      assert(want.nonEmpty, kind)
      assert(rows(persisted()) == want, s"$kind: first call")
      assert(rows(persisted()) == want, s"$kind: second call")
    }
    assert(GraphFixtures.nodesWithCount(spark, sf)._2 == g.nodes._2)
    assert(GraphFixtures.srcNodesWithCount(spark, sf)._2 == g.hubs._2)
  }
}

/** Source lint: the persisted-artifact idiom has one home. Queries never
  * publish by hand (no `renameTo(`, no `_stage_` directories), never
  * decide whether to build a table from its own manifest, and
  * `graft-warehouse` is the only versioned table format; the data-dir tag
  * of artifact keys is computed in `core/Artifacts.scala` only, so the
  * key format cannot drift from what the benchmark harness matches on.
  */
class ArtifactLintSpec extends AnyFunSuite {
  import SourceLint.{hits, matches, sources}

  test("queries publish no artifact by hand") {
    val queries = sources("src/main/scala/graft/queries")
    val found = hits(queries, "renameTo(") ++ hits(queries, "_stage_")
    assert(found.isEmpty,
      s"hand-rolled stage/rename publish (use graft.core.Artifacts): $found")
  }

  test("queries publish persisted tables only through Artifacts.materialize") {
    // a build guard reads the table's own manifest to decide whether to
    // build: an empty-manifest test, or a disposition test of its commits
    val guards = matches(sources("src/main/scala/graft/queries"),
      """readManifest\([^)]*\)\s*\.isEmpty|\.disposition\b""".r)
    assert(guards.isEmpty,
      s"manifest-read build guard (use Artifacts.materialize): $guards")
    val txn = matches(sources("src/main/scala"), """\bTxn\b""".r)
    assert(txn.isEmpty,
      s"a second versioned table format (use graft-warehouse): $txn")
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
