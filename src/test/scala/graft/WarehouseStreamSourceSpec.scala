package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.io.Sink
import graft.ops.Maintenance
import graft.sources.{WarehouseDelete, WarehouseEvolve, WarehouseMeta}

/** Streaming SOURCE face of the warehouse table format: readStream tails
  * the generation log, each trigger plans ONLY newly-added files, offsets
  * are generation numbers (checkpoint replay = manifest diff), and
  * row-preserving maintenance commits (OPTIMIZE / ALTER) emit nothing.
  */
class WarehouseStreamSourceSpec extends SparkSpec {

  private def load(path: String, opts: (String, String)*): DataFrame = {
    var r = spark.readStream.format("graft-warehouse")
    opts.foreach { case (k, v) => r = r.option(k, v) }
    r.load(path)
  }

  private def chainMessages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")

  /** Drive `df` through foreachBatch, recording each non-empty batch's
    * row count; returns (query, batches buffer). */
  private def drive(df: DataFrame, ckpt: String) = {
    val batches = new scala.collection.mutable.ArrayBuffer[Long]()
    val q = df.writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        val n = b.count()
        if (n > 0) batches.synchronized { batches += n }
        ()
      }
      .start()
    (q, batches)
  }

  test("tails the generation log: each append is one incremental batch, " +
    "checkpoint replay survives a restart with no duplicates") {
    val path = scratch("tail")
    val ckpt = scratch("tail_ckpt")
    Sink.overwrite(spark.range(100).select(col("id").as("k")).coalesce(2),
      path, format = "graft-warehouse")
    val (q, batches) = drive(load(path), ckpt)
    try {
      q.processAllAvailable()
      assert(batches.toList === List(100L), "first batch = full gen 0")
      Sink.append(spark.range(100, 130).select(col("id").as("k"))
        .coalesce(1), path, format = "graft-warehouse")
      q.processAllAvailable()
      assert(batches.toList === List(100L, 30L),
        "second batch holds ONLY the appended rows")
    } finally q.stop()
    // restart from the same checkpoint: a new append lands, the already-
    // delivered generations must NOT replay
    Sink.append(spark.range(130, 145).select(col("id").as("k"))
      .coalesce(1), path, format = "graft-warehouse")
    val (q2, batches2) = drive(load(path), ckpt)
    try {
      q2.processAllAvailable()
      assert(batches2.toList === List(15L),
        s"restart must deliver only generation 2 (got $batches2)")
    } finally q2.stop()
  }

  test("maxGenerationsPerTrigger splits the backlog into bounded batches") {
    val path = scratch("maxgen")
    Sink.overwrite(spark.range(10).select(col("id").as("k")).coalesce(1),
      path, format = "graft-warehouse")
    Sink.append(spark.range(10, 30).select(col("id").as("k")).coalesce(1),
      path, format = "graft-warehouse")
    Sink.append(spark.range(30, 70).select(col("id").as("k")).coalesce(1),
      path, format = "graft-warehouse")
    val (q, batches) = drive(
      load(path, "maxGenerationsPerTrigger" -> "1"), scratch("maxgen_ckpt"))
    try {
      q.processAllAvailable()
      assert(batches.toList === List(10L, 20L, 40L),
        s"one generation per trigger (got $batches)")
    } finally q.stop()
  }

  test("delete commits refuse by default and skip under ignoreDeletes; " +
    "OPTIMIZE emits nothing") {
    val path = scratch("del")
    // two one-file generations with disjoint k zones
    Sink.overwrite(spark.range(100).select(col("id").as("k")).coalesce(1),
      path, format = "graft-warehouse")
    Sink.append(spark.range(100, 200).select(col("id").as("k")).coalesce(1),
      path, format = "graft-warehouse")
    // metadata DELETE of the first file (fully zone-provable)
    val deleted = WarehouseDelete.deleteWhere(path,
      org.apache.spark.sql.sources.LessThan("k", 100L))
    assert(deleted === 100L)
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val (q, _) = drive(load(path), scratch("del_ckpt1"))
      try q.processAllAvailable() finally q.stop()
    }
    assert(chainMessages(ex).contains("ignoreDeletes"),
      s"refusal must name the escape hatch: ${chainMessages(ex)}")
    // with ignoreDeletes: gen 0+1 files that survived stream, the delete
    // emits nothing, and a post-delete append still arrives
    val (q2, batches2) = drive(
      load(path, "ignoreDeletes" -> "true"), scratch("del_ckpt2"))
    try {
      q2.processAllAvailable()
      assert(batches2.toList === List(200L),
        "replay emits both original files (the delete gen adds nothing)")
      Sink.append(spark.range(200, 220).select(col("id").as("k"))
        .coalesce(1), path, format = "graft-warehouse")
      Maintenance.optimizeWarehouse(spark, path) // OPTIMIZE: row-preserving
      assert(WarehouseMeta.readManifest(path).get.disposition === "OPTIMIZE")
      q2.processAllAvailable()
      assert(batches2.toList === List(200L, 20L),
        s"append emits, OPTIMIZE emits NOTHING (got $batches2)")
    } finally q2.stop()
  }

  test("schema evolution mid-stream refuses with 'restart'; a fresh " +
    "stream replays pre-evolution files with the DEFAULT tail") {
    val path = scratch("evolve")
    Sink.overwrite(spark.range(50).select(col("id").as("k")).coalesce(1),
      path, format = "graft-warehouse")
    val (q, batches) = drive(load(path), scratch("evolve_ckpt"))
    try {
      q.processAllAvailable()
      assert(batches.toList === List(50L))
      // ALTER ADD COLUMN DEFAULT, then an append at the evolved schema
      WarehouseEvolve.addColumn(path, "tag",
        org.apache.spark.sql.types.LongType, Some("7"))
      Sink.append(spark.range(50, 60)
        .select(col("id").as("k"), lit(9L).as("tag")).coalesce(1),
        path, format = "graft-warehouse")
      val ex = intercept[
          org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(chainMessages(ex).contains("restart the stream"),
        s"evolution refusal must say restart: ${chainMessages(ex)}")
    } finally q.stop()
    // fresh stream at the evolved schema: pre-evolution files replay with
    // the DEFAULT-filled tail, post-evolution files with their written tag
    val got = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q2 = load(path).writeStream
      .option("checkpointLocation", scratch("evolve_ckpt2"))
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        val rows = b.select("k", "tag").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        got.synchronized { got ++= rows }
        ()
      }
      .start()
    try q2.processAllAvailable() finally q2.stop()
    val byTag = got.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byTag === Map(7L -> 50, 9L -> 10),
      s"50 default-filled + 10 written tags (got $byTag)")
  }

  test("startingGeneration=latest skips history; a trigger plans ONLY " +
    "the files its commit added") {
    val path = scratch("latest")
    Sink.overwrite(spark.range(1000).select(col("id").as("k"))
      .repartitionByRange(4, col("k")), path, format = "graft-warehouse")
    val (q, batches) = drive(
      load(path, "startingGeneration" -> "latest"), scratch("latest_ckpt"))
    try {
      q.processAllAvailable()
      assert(batches.isEmpty, "latest start must skip existing history")
      Sink.append(spark.range(1000, 2000).select(col("id").as("k"))
        .repartitionByRange(4, col("k")), path, format = "graft-warehouse")
      q.processAllAvailable()
      assert(batches.toList === List(1000L))
      // incremental planning is file-exact: the table holds 8 files but
      // the append trigger planned only generation 1's four — the 100 TB
      // property (per-trigger work ∝ the delta, not the table)
      assert(graft.sources.WarehouseScanStats.lastPlannedFiles === 4,
        s"trigger must plan only the added files (planned " +
          s"${graft.sources.WarehouseScanStats.lastPlannedFiles} of 8)")
    } finally q.stop()
    // filters above the stream stay correct (Spark does not push filters
    // into streaming DSv2 scans today; the source's zone-skip hook is
    // exercised the day it does)
    val nRows = new java.util.concurrent.atomic.AtomicLong()
    val q2 = load(path).filter(col("k") >= 1900L).writeStream
      .option("checkpointLocation", scratch("latest_ckpt2"))
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        nRows.addAndGet(b.count())
        ()
      }
      .start()
    try q2.processAllAvailable() finally q2.stop()
    assert(nRows.get() === 100L)
  }

  test("Trigger.AvailableNow drains the backlog and terminates") {
    val path = scratch("avnow")
    Sink.overwrite(spark.range(25).select(col("id").as("k")).coalesce(1),
      path, format = "graft-warehouse")
    Sink.append(spark.range(25, 60).select(col("id").as("k")).coalesce(1),
      path, format = "graft-warehouse")
    val batches = new scala.collection.mutable.ArrayBuffer[Long]()
    val q = load(path, "maxGenerationsPerTrigger" -> "1").writeStream
      .option("checkpointLocation", scratch("avnow_ckpt"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        val n = b.count()
        if (n > 0) batches.synchronized { batches += n }
        ()
      }
      .start()
    assert(q.awaitTermination(120000), "AvailableNow must terminate")
    assert(batches.toList === List(25L, 35L),
      s"drains generation-by-generation then stops (got $batches)")
  }
}
