package graft

import java.io.File

/** Line search over the repo's Scala sources, for the lint suites. Paths
  * are relative to the repo root, where sbt runs the tests.
  */
object SourceLint {

  def sources(root: String): Seq[File] = {
    val dir = new File(root)
    assert(dir.isDirectory, s"run from the repo root: $root not found")
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(dir)
  }

  /** `path:line` of every line of `files` that contains `needle`. */
  def hits(files: Seq[File], needle: String): Seq[String] =
    files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if line.contains(needle) => s"${f.getPath}:${i + 1}"
      }.toList
      finally src.close()
    }
}
