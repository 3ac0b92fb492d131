package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, LessThan}

import graft.io.Sink
import graft.ops.Maintenance
import graft.sources.{WarehouseCdc, WarehouseDv, WarehouseMeta, WarehouseScanStats}

/** Merge-on-read deletion vectors: partial deletes are bitmap commits
  * (zero data-file changes), readers skip marked ordinals, COUNT stays
  * metadata-exact while other serves refuse, OPTIMIZE materializes
  * vectors away, the change feed emits vectored rows as deletes, and
  * time travel sees each generation's own vector.
  */
class WarehouseDvSpec extends SparkSpec {

  test("a partial delete commits a bitmap, not a rewrite: file set " +
    "unchanged, counts exact, repeated deletes union idempotently") {
    val path = scratch("bitmap")
    Sink.overwrite(spark.range(100)
      .select(col("id").as("k"), (col("id") % 10).as("m")).coalesce(2),
      path, format = "graft-warehouse")
    val before = WarehouseMeta.readManifest(path).get
    // k % 10 == 3 matches inside BOTH files: pure vector commit
    val deleted = WarehouseDv.deleteWhereDv(spark, path, EqualTo("m", 3L))
    assert(deleted === 10L)
    val m1 = WarehouseMeta.readManifest(path).get
    assert(m1.disposition === "DELETE_DV")
    assert(m1.files === before.files, "no data file may change")
    assert(m1.dvs.values.map(_._2).sum === 10L)
    assert(Sink.read(spark, path, "graft-warehouse").count() === 90L)
    assert(Sink.read(spark, path, "graft-warehouse")
      .filter(col("m") === 3L).count() === 0L)
    // overlapping second delete: m==3 rows already gone, m==4 rows new
    val d2 = WarehouseDv.deleteWhereDv(spark, path,
      org.apache.spark.sql.sources.In("m", Array(3L, 4L)))
    assert(d2 === 10L, "already-vectored rows must not recount")
    assert(Sink.read(spark, path, "graft-warehouse").count() === 80L)
    // time travel: each generation sees its own vector
    assert(spark.read.format("graft-warehouse").option("path", path)
      .option("generation", before.generation.toString).load()
      .count() === 100L)
    assert(spark.read.format("graft-warehouse").option("path", path)
      .option("generation", m1.generation.toString).load()
      .count() === 90L)
  }

  test("the delete ladder combines: zone-provable files drop as " +
    "metadata, partial files get vectors, in ONE commit") {
    val path = scratch("ladder")
    Sink.overwrite(spark.range(100)
      .select(col("id").as("k"), expr("id div 50").as("band")).coalesce(1),
      path, format = "graft-warehouse",
      options = Map("clusterBy" -> "band"))
    val before = WarehouseMeta.readManifest(path).get
    assert(before.files.size === 2)
    // band 0 fully matches (metadata drop); band 1 partially (vector)
    val deleted = WarehouseDv.deleteWhereDv(spark, path,
      LessThan("k", 75L))
    assert(deleted === 75L)
    val m = WarehouseMeta.readManifest(path).get
    assert(m.files.size === 1, "the full-match file drops as metadata")
    assert(m.dvs.size === 1, "the partial file gets a vector")
    assert(Sink.read(spark, path, "graft-warehouse")
      .agg(min(col("k")), count(lit(1))).head() match {
        case r => r.getLong(0) === 75L && r.getLong(1) === 25L
      })
  }

  test("COUNT(*) serves metadata-exact over vectored files; MIN/MAX " +
    "refuse the serve and scan correctly") {
    val path = scratch("serves")
    Sink.overwrite(spark.range(60).select(col("id").as("k")).coalesce(1),
      path, format = "graft-warehouse")
    WarehouseDv.deleteWhereDv(spark, path, LessThan("k", 10L))
    val n = Sink.read(spark, path, "graft-warehouse")
      .agg(count(lit(1)).as("n")).head().getLong(0)
    assert(n === 50L)
    assert(WarehouseScanStats.lastAggServed,
      "COUNT(*) must stay a zero-IO metadata serve (live = frows-marked)")
    val mn = Sink.read(spark, path, "graft-warehouse")
      .agg(min(col("k")).as("mn")).head().getLong(0)
    assert(mn === 10L, "a deleted row must not surface as the MIN")
    assert(!WarehouseScanStats.lastAggServed,
      "MIN must refuse the metadata serve on a vectored file")
  }

  test("OPTIMIZE materializes vectors away; the change feed emits " +
    "vectored rows as deletes; vacuum keeps referenced bitmaps") {
    val path = scratch("optimize")
    Sink.overwrite(spark.range(40)
      .select(col("id").as("k"), lit(1.0).as("v")).coalesce(1),
      path, format = "graft-warehouse")
    WarehouseDv.deleteWhereDv(spark, path, LessThan("k", 5L))
    val gDv = WarehouseMeta.readManifest(path).get.generation
    // CDC: the DELETE_DV window emits exactly the marked rows
    val changes = WarehouseCdc.tableChanges(spark, path, gDv - 1, gDv)
      .collect().map(r => (r.getAs[String]("_change_type"),
        r.getAs[Long]("k"))).toSet
    assert(changes === (0L until 5L).map(("delete", _)).toSet)
    // vacuum keeps the referenced bitmap (table still reads right)
    Maintenance.vacuumWarehouse(path, keepGenerations = 1)
    assert(Sink.read(spark, path, "graft-warehouse").count() === 35L)
    // OPTIMIZE rewrites the vectored file regardless of size and the
    // new generation carries no vectors
    val stats = Maintenance.optimizeWarehouse(spark, path)
    assert(stats.rewritten >= 1)
    val after = WarehouseMeta.readManifest(path).get
    assert(after.dvs.isEmpty, "OPTIMIZE must materialize vectors away")
    assert(Sink.read(spark, path, "graft-warehouse").count() === 35L)
  }

  test("merge-on-read UPDATE vectors pre-images and appends post-images " +
    "in one commit; compound updates chain; the feed classifies both") {
    val path = scratch("mor_upd")
    Sink.overwrite(spark.range(40)
      .select(col("id").as("k"), lit(1.0).as("v")).coalesce(1),
      path, format = "graft-warehouse")
    val updated = WarehouseDv.updateWhereMor(spark, path,
      LessThan("k", 10L), Map("v" -> "9.0d"))
    assert(updated === 10L)
    val m1 = WarehouseMeta.readManifest(path).get
    assert(m1.disposition === "UPDATE_MOR")
    assert(m1.files.size === 2, "original file + appended post-images")
    assert(m1.dvs.values.map(_._2).sum === 10L)
    val after1 = Sink.read(spark, path, "graft-warehouse")
    assert(after1.count() === 40L)
    assert(after1.agg(sum(col("v"))).head().getDouble(0) ===
      30 * 1.0 + 10 * 9.0)
    val changes = WarehouseCdc.tableChanges(spark, path,
      m1.generation - 1, m1.generation).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("k"),
        r.getAs[Double]("v"))).toSet
    assert(changes === (0L until 10L).flatMap(k =>
      Seq(("update_preimage", k, 1.0), ("update_postimage", k, 9.0)))
      .toSet)
    // compound: a second MoR update overlapping both the original file
    // (ordinals already vectored -> no recount) and the appended file
    val u2 = WarehouseDv.updateWhereMor(spark, path,
      LessThan("k", 5L), Map("v" -> "7.0d"))
    assert(u2 === 5L)
    val after2 = Sink.read(spark, path, "graft-warehouse")
    assert(after2.count() === 40L)
    assert(after2.agg(sum(col("v"))).head().getDouble(0) ===
      30 * 1.0 + 5 * 9.0 + 5 * 7.0)
  }

  test("a copy-on-write delete AFTER a vector delete counts only live " +
    "rows and carries the vector math through the rewrite") {
    val path = scratch("cowafter")
    Sink.overwrite(spark.range(50).select(col("id").as("k")).coalesce(1),
      path, format = "graft-warehouse")
    // vector out k < 10 (10 live rows gone)
    assert(WarehouseDv.deleteWhereDv(spark, path, LessThan("k", 10L))
      === 10L)
    // CoW-delete k < 20: only the 10 LIVE rows in [10,20) may count
    val d = graft.sources.WarehouseCow.deleteWhereCow(spark, path,
      LessThan("k", 20L))
    assert(d === 10L, s"already-vectored rows must not recount (got $d)")
    val m = WarehouseMeta.readManifest(path).get
    assert(m.dvs.isEmpty, "the rewrite physically removed the rows")
    assert(Sink.read(spark, path, "graft-warehouse").count() === 30L)
  }

  test("_file/_pos metadata columns give stable row coordinates: _pos " +
    "survives a deletion vector with gaps, not renumbering") {
    val path = scratch("metacols")
    Sink.overwrite(spark.range(20).select(col("id").as("k")).coalesce(1),
      path, format = "graft-warehouse")
    val before = Sink.read(spark, path, "graft-warehouse")
      .select(col("k"), col("_file"), col("_pos")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(before.values.map(_._1).toSet.size === 1, "one file")
    assert(before.values.map(_._2).toSeq.sorted === (0L until 20L),
      "ordinals are dense pre-delete")
    WarehouseDv.deleteWhereDv(spark, path,
      org.apache.spark.sql.sources.In("k", Array(3L, 7L, 11L)))
    val after = Sink.read(spark, path, "graft-warehouse")
      .select(col("k"), col("_pos")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after.size === 17)
    assert(after.forall { case (k, p) => before(k)._2 == p },
      "_pos must be STABLE across a DV commit (gaps, not renumbering)")
    assert(!after.keySet.exists(Set(3L, 7L, 11L)))
  }

  test("the streaming source refuses a DV commit by default, skips " +
    "under ignoreDeletes; streaming CDC points at the batch API") {
    val path = scratch("stream")
    Sink.overwrite(spark.range(30).select(col("id").as("k")).coalesce(1),
      path, format = "graft-warehouse")
    WarehouseDv.deleteWhereDv(spark, path, LessThan("k", 3L))
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft-warehouse").load(path)
        .writeStream.option("checkpointLocation", scratch("ck1"))
        .foreachBatch((_: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) => ())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(chain(ex).contains("ignoreDeletes"))
    val n = new java.util.concurrent.atomic.AtomicLong()
    val q2 = spark.readStream.format("graft-warehouse")
      .option("ignoreDeletes", "true").load(path)
      .writeStream.option("checkpointLocation", scratch("ck2"))
      .foreachBatch((b: org.apache.spark.sql.Dataset[
        org.apache.spark.sql.Row], _: Long) => { n.addAndGet(b.count()); () })
      .start()
    try q2.processAllAvailable() finally q2.stop()
    assert(n.get() === 30L, "replay emits the original file; the DV " +
      "commit itself emits nothing")
    val ex2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graft-warehouse")
        .option("readChangeFeed", "true").load(path)
        .writeStream.option("checkpointLocation", scratch("ck3"))
        .foreachBatch((_: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) => ())
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(chain(ex2).contains("tableChanges"))
  }
}
