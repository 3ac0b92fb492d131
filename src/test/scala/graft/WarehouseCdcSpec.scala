package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, LessThanOrEqual}

import graft.io.Sink
import graft.ops.Maintenance
import graft.sources.{WarehouseCdc, WarehouseCow, WarehouseDelete, WarehouseEvolve, WarehouseMerge, WarehouseMeta}

/** Change data feed over the warehouse generation log: manifest-diff
  * derived, EXCEPT-ALL row diffs only over CoW-rewritten files,
  * key-classified MERGE commits, positional schema alignment across
  * ALTERs, and nothing emitted for row-preserving maintenance.
  */
class WarehouseCdcSpec extends SparkSpec {

  private def changes(path: String, since: Long, to: Long,
      keys: Seq[String] = Nil) =
    WarehouseCdc.tableChanges(spark, path, since, to, keys)
      .collect()
      .map(r => (r.getAs[String](WarehouseCdc.ChangeTypeCol),
        r.getAs[Long](WarehouseCdc.GenerationCol),
        r.getAs[Long]("k"), r.getAs[Double]("v")))
      .toSet

  test("append / CoW update / metadata delete produce the exact typed " +
    "change rows; OPTIMIZE produces none") {
    val path = scratch("crud")
    def df(r: Range, v: Double) = spark.range(r.start, r.end)
      .select(col("id").as("k"), lit(v).as("v"),
        (col("id") / 10).cast("long").as("band"))
    // gen 0: bands 0,1 (k 0..19); gen 1: band 2 (k 20..29)
    Sink.overwrite(df(0 until 20, 1.0).repartition(1), path,
      format = "graft-warehouse", options = Map("clusterBy" -> "band"))
    Sink.append(df(20 until 30, 2.0).repartition(1), path,
      format = "graft-warehouse", options = Map("clusterBy" -> "band"))
    // gen 2: CoW update band 0 -> v = 9.0
    val updated = WarehouseCow.updateWhereCow(spark, path,
      LessThanOrEqual("band", 0L), Map("v" -> "9.0d"))
    assert(updated === 10L)
    // gen 3: metadata delete of band 2
    assert(WarehouseDelete.deleteWhere(path, EqualTo("band", 2L)) === 10L)
    // gen 4: OPTIMIZE (row-preserving)
    Maintenance.optimizeWarehouse(spark, path)
    assert(WarehouseMeta.readManifest(path).get.generation === 4L)

    val got = changes(path, 0, 4)
    val want =
      (20 until 30).map(k => ("insert", 1L, k.toLong, 2.0)).toSet ++
        (0 until 10).map(k => ("update_preimage", 2L, k.toLong, 1.0)) ++
        (0 until 10).map(k => ("update_postimage", 2L, k.toLong, 9.0)) ++
        (20 until 30).map(k => ("delete", 3L, k.toLong, 2.0))
    assert(got === want)
    // a window that holds only the row-preserving commit is empty
    assert(changes(path, 3, 4).isEmpty)
    // a window after the fact still serves (time travel backs the feed)
    assert(changes(path, 2, 3) ===
      (20 until 30).map(k => ("delete", 3L, k.toLong, 2.0)).toSet)
  }

  test("a full compaction is row-preserving: the change feed across it " +
    "is empty") {
    val path = scratch("compact")
    Sink.overwrite(spark.range(40).select(col("id").as("k"),
      (col("id") * 0.5).as("v")).repartition(4), path,
      format = "graft-warehouse")
    Maintenance.compactWarehouse(spark, path, targetFiles = 1)
    assert(changes(path, 0, 1).isEmpty)
    val m = WarehouseMeta.readManifest(path).get
    assert(m.generation === 1L && m.disposition === "OPTIMIZE")
  }

  test("history lists retained generations with live counts and real " +
    "commit metadata; VACUUM shortens it") {
    val path = scratch("hist")
    Sink.overwrite(spark.range(10).select(col("id").as("k")).coalesce(1),
      path, format = "graft-warehouse")
    Sink.append(spark.range(10, 15).select(col("id").as("k")).coalesce(1),
      path, format = "graft-warehouse")
    val h = WarehouseCdc.history(spark, path).collect()
    assert(h.map(r => (r.getAs[Long]("generation"),
      r.getAs[String]("disposition"), r.getAs[Long]("n_files"),
      r.getAs[Long]("n_live_rows"))).toSeq ===
      Seq((0L, "WRITE_TRUNCATE", 1L, 10L), (1L, "WRITE_APPEND", 2L, 15L)))
    assert(h.forall(r => r.getAs[String]("job_id").nonEmpty &&
      r.getAs[java.sql.Timestamp]("committed_at") != null))
    graft.ops.Maintenance.vacuumWarehouse(path, keepGenerations = 1)
    assert(WarehouseCdc.history(spark, path).collect()
      .map(_.getAs[Long]("generation")).toSeq === Seq(1L),
      "history covers only retained generations")
  }

  test("MERGE commits refuse without keyCols and classify exactly with " +
    "them") {
    val path = scratch("merge")
    def df(ks: Seq[Int], v: Double) = spark
      .createDataFrame(ks.map(k => (k.toLong, v, k.toLong / 10)))
      .toDF("k", "v", "band")
    Sink.overwrite(df(0 until 20, 1.0).repartition(1), path,
      format = "graft-warehouse", options = Map("clusterBy" -> "band"))
    // changelog: update k=5 (band 0), delete k=15 (band 1), insert k=25
    val log = spark.createDataFrame(Seq(
      (5L, 7.0, 0L, "U", 1L), (15L, 0.0, 1L, "D", 2L),
      (25L, 3.0, 2L, "I", 3L)))
      .toDF("k", "v", "band", "op", "seq")
    WarehouseMerge.applyChangelogCow(spark, path, log,
      key = "k", seqCol = "seq", opCol = "op")
    val ex = intercept[IllegalArgumentException] {
      changes(path, 0, 1)
    }
    assert(ex.getMessage.contains("keyCols"))
    val got = changes(path, 0, 1, keys = Seq("k"))
    assert(got === Set(
      ("update_preimage", 1L, 5L, 1.0),
      ("update_postimage", 1L, 5L, 7.0),
      ("delete", 1L, 15L, 1.0),
      ("insert", 1L, 25L, 3.0)))
  }

  test("pre-rename generations align by position to the renamed schema; " +
    "ALTER commits themselves emit nothing") {
    val path = scratch("rename")
    Sink.overwrite(spark.range(5)
      .select(col("id").as("k"), (col("id") * 2.0).as("v")).coalesce(1),
      path, format = "graft-warehouse")
    WarehouseEvolve.renameColumn(path, "v", "val") // gen 1
    WarehouseEvolve.addColumn(path, "tag",
      org.apache.spark.sql.types.LongType, Some("7")) // gen 2
    Sink.append(spark.range(5, 8).select(col("id").as("k"),
      lit(0.5).as("val"), lit(9L).as("tag")).coalesce(1),
      path, format = "graft-warehouse") // gen 3
    val rows = WarehouseCdc.tableChanges(spark, path, 0, 3).collect()
      .map(r => (r.getAs[String](WarehouseCdc.ChangeTypeCol),
        r.getAs[Long](WarehouseCdc.GenerationCol),
        r.getAs[Long]("k"), r.getAs[Double]("val"), r.getAs[Long]("tag")))
      .toSet
    // only gen 3 emits; gen-0 history is NOT in the window — but replay
    // FROM scratch aligns old names/arities to the evolved schema
    assert(rows === (5 until 8)
      .map(k => ("insert", 3L, k.toLong, 0.5, 9L)).toSet)
    val replay = WarehouseCdc.tableChanges(spark, path, -1, 3).collect()
      .map(r => (r.getAs[String](WarehouseCdc.ChangeTypeCol),
        r.getAs[Long](WarehouseCdc.GenerationCol),
        r.getAs[Long]("k"), r.getAs[Double]("val"), r.getAs[Long]("tag")))
      .toSet
    assert(replay === rows ++
      (0 until 5).map(k => ("insert", 0L, k.toLong, k * 2.0, 7L)))
  }
}
