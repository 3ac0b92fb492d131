package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: a `graft-warehouse` rewrite stages into the table it
  * rewrites and publishes through one replace commit; it never writes a
  * second table. `Sink.overwrite` / `Sink.append` run a whole load job into
  * another table, so none of the warehouse sources or the table
  * maintenance calls them.
  */
class RewriteLintSpec extends AnyFunSuite {
  import SourceLint.{hits, sources}

  test("warehouse sources and Maintenance never load a second table") {
    val files = sources("src/main/scala/graft/sources") ++
      sources("src/main/scala/graft/ops").filter(_.getName == "Maintenance.scala")
    assert(files.exists(_.getName == "Maintenance.scala"), "Maintenance.scala moved")
    val found = Seq("Sink.overwrite(", "Sink.append(").flatMap(hits(files, _))
    assert(found.isEmpty, s"a rewrite writes a second table: $found")
  }
}
