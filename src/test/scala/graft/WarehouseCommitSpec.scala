package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual}
import org.apache.spark.sql.types.LongType

import graft.io.Sink
import graft.ops.Maintenance
import graft.sources.{WarehouseCow, WarehouseDelete, WarehouseDv, WarehouseEvolve, WarehouseMerge, WarehouseMeta}

/** Every commit kind of the warehouse format goes through one job bracket:
  * each leaves exactly one job whose log reads (opening state, DONE),
  * moves the table by the generations it publishes, and keeps every
  * per-file metadata map keyed by committed files only, with a row count
  * for each file.
  */
class WarehouseCommitSpec extends SparkSpec {

  private lazy val wh: String = {
    val w = scratch("commit")
    spark.conf.set("spark.sql.catalog.gcommit", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcommit.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcommit.db")
    w
  }

  private def rows(from: Long, n: Long) =
    spark.range(from, from + n).select(col("id").as("k"), (col("id") % 10).as("m"))

  /** Two generations, three files (k 0-49, 50-99, 100-119) with a bloom
    * index on k, at `gcommit.db.<name>`. */
  private def seeded(name: String): String = {
    val path = s"$wh/db/$name"
    Sink.overwrite(rows(0, 100).coalesce(2), path, format = "graft-warehouse",
      options = Map("bloomFilters" -> "k"))
    Sink.append(rows(100, 20).coalesce(1), path, format = "graft-warehouse")
    path
  }

  private def generation(path: String): Long =
    WarehouseMeta.readManifest(path).map(_.generation).getOrElse(-1L)

  // (kind, opening state, generations published, seed, operation)
  private val kinds: Seq[(String, String, Int, Boolean, String => Unit)] = Seq(
    ("load append", "RUNNING", 1, true, p =>
      Sink.append(rows(200, 10), p, format = "graft-warehouse"): Unit),
    ("WRITE_TRUNCATE", "RUNNING", 1, true, p =>
      Sink.overwrite(rows(300, 10), p, format = "graft-warehouse"): Unit),
    ("SQL UPDATE", "RUNNING", 1, true, _ =>
      spark.sql("UPDATE gcommit.db.sql_update SET m = m + 100 WHERE k < 10"): Unit),
    ("deleteWhere", "PENDING delete", 1, true, p =>
      WarehouseDelete.deleteWhere(p, GreaterThanOrEqual("k", 100L)): Unit),
    ("addColumn", "PENDING add c", 1, true, p =>
      WarehouseEvolve.addColumn(p, "c", LongType, Some("7")): Unit),
    ("renameColumn", "PENDING rename m m2", 1, true, p =>
      WarehouseEvolve.renameColumn(p, "m", "m2"): Unit),
    ("deleteWhereCow", "PENDING DELETE_COW", 1, true, p =>
      WarehouseCow.deleteWhereCow(spark, p, EqualTo("m", 3L)): Unit),
    ("applyChangelogCow", "PENDING MERGE", 1, true, { p =>
      val log = spark.createDataFrame(Seq(
        (5L, 50L, "U", 1L), (60L, 0L, "D", 2L), (500L, 0L, "I", 3L)))
        .toDF("k", "m", "op", "seq")
      WarehouseMerge.applyChangelogCow(spark, p, log, key = "k",
        seqCol = "seq", opCol = "op"): Unit
    }),
    ("updateWhereMor", "RUNNING", 1, true, p =>
      WarehouseDv.updateWhereMor(spark, p, EqualTo("m", 3L),
        Map("m" -> "m + 100")): Unit),
    ("deleteWhereDv", "RUNNING", 1, true, p =>
      WarehouseDv.deleteWhereDv(spark, p, EqualTo("m", 3L)): Unit),
    ("optimizeWarehouse", "PENDING OPTIMIZE", 1, true, p =>
      Maintenance.optimizeWarehouse(spark, p): Unit),
    ("vacuumWarehouse", "PENDING keep=1", 0, true, p =>
      Maintenance.vacuumWarehouse(p, keepGenerations = 1): Unit),
    ("CREATE TABLE", "PENDING create", 1, false, _ =>
      spark.sql("CREATE TABLE gcommit.db.create_table (k BIGINT, m BIGINT)"): Unit),
    ("compactWarehouse", "PENDING OPTIMIZE", 1, true, p =>
      Maintenance.compactWarehouse(spark, p): Unit),
    // m = 3 holds in some rows of every file: the copy-on-write tier
    ("SQL DELETE FROM", "PENDING DELETE_COW", 1, true, _ =>
      spark.sql("DELETE FROM gcommit.db.sql_delete_from WHERE m = 3"): Unit))

  test("every commit kind logs (opening, DONE), publishes its generations " +
    "and keeps per-file metadata keyed by committed files") {
    for ((kind, opening, published, seed, op) <- kinds) {
      val path = s"$wh/db/${kind.replaceAll("[^A-Za-z]+", "_").toLowerCase}"
      if (seed) seeded(path.split('/').last)
      val (jobsBefore, genBefore) = (WarehouseMeta.jobs(path).toSet, generation(path))
      op(path)
      val newJobs = WarehouseMeta.jobs(path).filterNot(jobsBefore)
      assert(newJobs.size === 1, s"$kind: one job, got $newJobs")
      assert(WarehouseMeta.jobStates(path, newJobs.head) === Seq(opening, "DONE"),
        kind)
      // a created table starts at generation 0 (-1 + 1)
      assert(generation(path) === genBefore + published, kind)
      val m = WarehouseMeta.readManifest(path).get
      val files = m.files.toSet
      for ((map, keys) <- Seq("stats" -> m.stats.keySet, "rows" -> m.rows.keySet,
          "parts" -> m.parts.keySet, "nonNull" -> m.nonNull.keySet,
          "sums" -> m.sums.keySet, "arity" -> m.arity.keySet,
          "blooms" -> m.blooms.keySet, "dvs" -> m.dvs.keySet))
        assert(keys.subsetOf(files), s"$kind: $map names ${keys -- files}")
      assert(files.subsetOf(m.rows.keySet), s"$kind: a file lacks rows")
    }
  }

  test("a job whose body throws ends in ERROR and publishes nothing; a " +
    "job publishes at most one generation") {
    val path = seeded("bracket")
    val gen = generation(path)
    val m = WarehouseMeta.current(path)
    val ex = intercept[IllegalStateException] {
      WarehouseMeta.job(path, "boom", "PENDING boom") { _ =>
        throw new IllegalStateException("boom")
      }
    }
    assert(ex.getMessage === "boom")
    assert(WarehouseMeta.jobStates(path, "boom") === Seq("PENDING boom", "ERROR boom"))
    intercept[IllegalArgumentException] {
      WarehouseMeta.job(path, "twice", "RUNNING") { publish =>
        publish(m.copy(generation = gen + 1, jobId = "twice"))
        publish(m.copy(generation = gen + 2, jobId = "twice"))
      }
    }
    assert(generation(path) === gen + 1)
    assert(WarehouseMeta.jobStates(path, "twice").last.startsWith("ERROR"))
  }

  test("a rewrite whose replacement throws in a task changes nothing and " +
    "leaves no staged or data directory") {
    val path = seeded("throwing_rewrite")
    val before = WarehouseMeta.current(path)
    val jobsBefore = WarehouseMeta.jobs(path).toSet
    intercept[Exception] {
      WarehouseCow.updateWhereCow(spark, path, EqualTo("m", 3L),
        Map("m" -> "raise_error('boom')"))
    }
    assert(WarehouseMeta.current(path) === before)
    val newJobs = WarehouseMeta.jobs(path).filterNot(jobsBefore)
    assert(newJobs.size === 1, newJobs)
    val job = newJobs.head
    val states = WarehouseMeta.jobStates(path, job)
    assert(states.size === 2 && states.head === "PENDING UPDATE_COW" &&
      states(1).startsWith("ERROR "), states)
    val fs = WarehouseMeta.fs(path)
    for (dir <- Seq(s"_staging/$job", s"data/$job"))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(path, dir)), dir)
  }
}
