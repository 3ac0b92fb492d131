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

  /** `path:line` of every match of `re` in `files`. Each file is matched
    * as a whole, so a pattern may span lines.
    */
  def matches(files: Seq[File], re: scala.util.matching.Regex): Seq[String] =
    files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val text = try src.mkString finally src.close()
      re.findAllMatchIn(text).map(m =>
        s"${f.getPath}:${text.take(m.start).count(_ == '\n') + 1}").toList
    }
}
