package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: a spec takes its temporary paths from
  * `SparkSpec.scratch`, under a root the suite deletes when it ends. A
  * path made unique by interpolating the clock, anywhere else, is a
  * hand-rolled temp directory that nothing removes; a fixed `/tmp/graft…`
  * path also outlives the run and collides between two runs on one host.
  */
class ScratchLintSpec extends AnyFunSuite {
  import SourceLint.{hits, sources}

  test("specs build clock-unique paths in SparkSpec.scratch only") {
    val found = hits(sources("src/test/scala"), "nanoTime" + "()}")
    val outside = found.filterNot(_.contains("/SparkSpec.scala:"))
    assert(outside.isEmpty,
      s"hand-rolled temp path (use SparkSpec.scratch): $outside")
    assert(found.size == 1, s"SparkSpec.scratch builds one: $found")
    val fixed = hits(sources("src/test/scala"), "\"/tmp/" + "graft")
    assert(fixed.isEmpty, s"fixed temp path (use SparkSpec.scratch): $fixed")
  }
}
