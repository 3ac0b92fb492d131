package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: `graft.sources.WarehouseMeta` owns the one Hadoop
  * `Configuration` of the warehouse code. A fresh `Configuration` parses
  * the Hadoop default resources again on first use (~15 ms), and task-side
  * code that builds its own pays that per task. Everything else asks
  * `WarehouseMeta.fs(path)` for its file system.
  */
class HadoopConfLintSpec extends AnyFunSuite {
  import SourceLint.{hits, sources}

  private val TopLevel =
    """^(?:(?:final|sealed|abstract|private(?:\[\w+\])?|case)\s+)*(?:object|class|trait)\s+(\w+).*""".r

  /** Name of the top-level definition that encloses `line` (1-based). */
  private def enclosing(file: java.io.File, line: Int): String = {
    val src = scala.io.Source.fromFile(file, "UTF-8")
    try src.getLines().take(line).collect { case TopLevel(n) => n }
      .toSeq.lastOption.getOrElse("")
    finally src.close()
  }

  test("new Hadoop Configurations are built inside WarehouseMeta only") {
    val main = sources("src/main/scala")
    val found = (hits(main, "new org.apache.hadoop.conf.Configuration(") ++
      hits(main, "new Configuration(")).distinct.map { h =>
      val at = h.lastIndexOf(':')
      (h, enclosing(new java.io.File(h.take(at)), h.drop(at + 1).toInt))
    }
    val outside = found.filterNot(_._2 == "WarehouseMeta").map(_._1)
    assert(outside.isEmpty,
      s"fresh Hadoop Configuration (use WarehouseMeta.fs): $outside")
    assert(found.size == 1, s"WarehouseMeta builds one: $found")
  }
}
