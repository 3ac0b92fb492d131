package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Artifacts, GraftFunctions}

/** Shared session for all suites (one JVM, one SparkSession). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.ensureRegistered(s)
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  private var root: Option[File] = None

  /** This suite's scratch root: made on first use and deleted, with all
    * under it, after the suite. Its name is unique to the suite run.
    */
  protected def scratchRoot: File = root.getOrElse {
    val r = Files.createTempDirectory(s"graft_spec_${suiteName}_").toFile
    root = Some(r)
    r
  }

  /** A path no other call returns, under [[scratchRoot]]; not created.
    * The one place a spec may build a unique path from the clock
    * (`ScratchLintSpec`).
    */
  protected def scratch(tag: String): String =
    s"$scratchRoot/${tag}_${System.nanoTime()}"

  override protected def afterAll(): Unit =
    try root.foreach(Artifacts.delete)
    finally super.afterAll()
}
