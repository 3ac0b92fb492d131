package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.io.Sink
import graft.ops.Maintenance
import graft.sources.WarehouseMeta

/** VACUUM retention: old generations' manifests drop, data files no kept
  * generation references are physically deleted (orphans included), the
  * live table is untouched, and vacuumed generations refuse time travel
  * with the standard listing error.
  */
class WarehouseVacuumSpec extends SparkSpec {

  private def diskDataFiles(root: String): Seq[String] = {
    val d = new File(root, "data")
    Option(d.listFiles()).getOrElse(Array.empty).flatMap { job =>
      Option(job.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && !f.getName.startsWith(".")) // skip .crc
        .map(f => s"data/${job.getName}/${f.getName}")
    }.toSeq
  }

  test("vacuum keeps the newest generations, deletes unreferenced data " +
    "files, refuses time travel to dropped generations, and leaves the " +
    "live table bit-exact") {
    import spark.implicits._
    val path = scratch("keep1")
    val df = (0L until 200L).map(i => (i, i * 3)).toDF("k", "v")
    Sink.overwrite(df.repartition(4), path, format = "graft-warehouse")
    val g0 = WarehouseMeta.readManifest(path).get.generation
    Sink.append(df.filter(col("k") < 10L).coalesce(1), path,
      format = "graft-warehouse")
    // full rewrite: every pre-compact file becomes history-only
    Maintenance.compactWarehouse(spark, path, targetFiles = 2)
    val live = WarehouseMeta.readManifest(path).get
    assert(diskDataFiles(path).size === 7) // 4 + 1 + 2 on disk
    val st = Maintenance.vacuumWarehouse(path, keepGenerations = 1)
    assert(st.droppedGenerations === 2 && st.keptGenerations === 1)
    assert(st.deletedFiles === 5 && st.deletedBytes > 0L)
    // disk now holds EXACTLY the live generation's files
    assert(diskDataFiles(path).sorted === live.files.sorted)
    val t = Sink.read(spark, path, "graft-warehouse")
    assert(t.count() === 210L)
    assert(t.agg(sum("v")).head.getLong(0) ===
      (0L until 200L).map(_ * 3).sum + (0L until 10L).map(_ * 3).sum)
    // time travel to a vacuumed generation refuses with the standard
    // "does not exist" error; the kept generation still reads
    intercept[IllegalArgumentException] {
      Sink.read(spark, path, "graft-warehouse",
        Map("generation" -> g0.toString)).count()
    }
    assert(Sink.read(spark, path, "graft-warehouse",
      Map("generation" -> live.generation.toString)).count() === 210L)
  }

  test("vacuum is a no-op when history fits the retention; sweeps " +
    "crash orphans; refuses keep=0") {
    import spark.implicits._
    val path = scratch("noop")
    Sink.overwrite((0L until 50L).map(i => (i, i)).toDF("k", "v"), path,
      format = "graft-warehouse")
    val st0 = Maintenance.vacuumWarehouse(path, keepGenerations = 2)
    assert(st0.droppedGenerations === 0 && st0.deletedFiles === 0)
    assert(Sink.read(spark, path, "graft-warehouse").count() === 50L)
    // plant an orphan (a crashed job's leftover): the sweep collects it
    val job = new File(path, "data").listFiles().head
    val orphan = new File(job, "orphan-crashed.grow")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    val st1 = Maintenance.vacuumWarehouse(path, keepGenerations = 2)
    assert(st1.deletedFiles === 1 && st1.deletedBytes === 3L)
    assert(!orphan.exists())
    assert(Sink.read(spark, path, "graft-warehouse").count() === 50L)
    intercept[IllegalArgumentException] {
      Maintenance.vacuumWarehouse(path, keepGenerations = 0)
    }
  }
}
