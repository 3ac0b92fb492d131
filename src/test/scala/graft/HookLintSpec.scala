package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: the graph and ANN operators under `ops/` take their
  * prepared input (distinct edges, node set, node or row count, trained
  * index) as required arguments. None of the optional parameters that
  * used to select an in-operator fallback may come back: the hook-only
  * names at all, and `lists` / `trained` / `centroids` as an `Option`.
  */
class HookLintSpec extends AnyFunSuite {
  import SourceLint.{matches, sources}

  test("ops operators declare no optional prepared-input hook") {
    val files = sources("src/main/scala/graft/ops")
    val hookOnly = Seq("predistinct", "presymmetrized", "nodesWithCount",
      "prenodes", "knownNodeCount", "hubsWithCount", "knownCount",
      "forceBlocks", "ivfLists", "pqTrained")
    val optional = Seq("lists", "trained", "centroids")
    // `name: Type` is a declaration; a comment's `name: text` is not
    val found =
      hookOnly.flatMap(h =>
        matches(files, raw"\b$h\s*:\s*[A-Z]".r).map(_ + s" $h")) ++
        optional.flatMap(h =>
          matches(files, raw"\b$h\s*:\s*Option\[".r).map(_ + s" $h"))
    assert(found.isEmpty, s"a prepared-input hook is back: $found")
  }
}
