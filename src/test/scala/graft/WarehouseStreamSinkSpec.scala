package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.io.Sink
import graft.sources.{WarehouseMeta, WarehouseStreamingWrite}

/** Streaming SINK: one epoch = one atomic load-job generation with
  * exactly-once replay (deterministic epoch jobIds), layout/bloom
  * inheritance, and complete-mode snapshots as truncate generations.
  */
class WarehouseStreamSinkSpec extends SparkSpec {

  test("warehouse-to-warehouse: each source commit becomes one sink " +
    "generation; checkpoint restart appends only new epochs") {
    val src = scratch("e2e_src")
    val dst = scratch("e2e_dst")
    val ckpt = scratch("e2e_ckpt")
    Sink.overwrite(spark.range(10).select(col("id").as("k")).coalesce(1),
      src, format = "graft-warehouse")
    Sink.append(spark.range(10, 25).select(col("id").as("k")).coalesce(1),
      src, format = "graft-warehouse")
    Sink.append(spark.range(25, 45).select(col("id").as("k")).coalesce(1),
      src, format = "graft-warehouse")
    def drain(): Unit = {
      val q = spark.readStream.format("graft-warehouse")
        .option("maxGenerationsPerTrigger", "1").load(src)
        .writeStream.format("graft-warehouse")
        .option("checkpointLocation", ckpt)
        .option("path", dst)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000))
    }
    drain()
    val m = WarehouseMeta.readManifest(dst).get
    assert(m.generation === 2L, "three source commits -> three epochs")
    assert(m.jobId.startsWith("stream_"), s"epoch jobId: ${m.jobId}")
    assert(Sink.read(spark, dst, "graft-warehouse").count() === 45L)
    // restart from the SAME checkpoint: already-delivered epochs must
    // not recommit; a new source commit lands as exactly one generation
    drain()
    assert(WarehouseMeta.readManifest(dst).get.generation === 2L,
      "no-change restart must add no generations")
    Sink.append(spark.range(45, 50).select(col("id").as("k")).coalesce(1),
      src, format = "graft-warehouse")
    drain()
    val m2 = WarehouseMeta.readManifest(dst).get
    assert(m2.generation === 3L)
    assert(Sink.read(spark, dst, "graft-warehouse").count() === 50L,
      "exactly-once: no duplicated rows across restarts")
  }

  test("a replayed epoch commit is an idempotent no-op") {
    val dst = scratch("replay")
    Sink.overwrite(spark.range(5).select(col("id").as("k")).coalesce(1),
      dst, format = "graft-warehouse")
    val committedJob = WarehouseMeta.readManifest(dst).get.jobId
    // simulate a post-crash replay of an epoch the table already holds:
    // jobId is deterministic, so a StreamingWrite for the same
    // (queryId, epoch) detects the DONE/manifest match and skips
    val w = new WarehouseStreamingWrite(dst,
      WarehouseMeta.readManifest(dst).get.schema,
      queryId = "q-replay", disposition = "WRITE_APPEND", None, None)
    // first: commit epoch 7 normally (empty payload -> zero-file gen)
    w.commit(7L, Array.empty)
    val g1 = WarehouseMeta.readManifest(dst).get.generation
    // replay the same epoch: must not create another generation
    w.commit(7L, Array.empty)
    assert(WarehouseMeta.readManifest(dst).get.generation === g1,
      "replayed epoch must be a no-op")
    assert(WarehouseMeta.readManifest(dst).get.jobId !== committedJob)
  }

  test("streamed epochs inherit the cluster layout and bloom index") {
    val dst = scratch("layout")
    val src = scratch("layout_src")
    // target created clustered + bloom-indexed (one seed row per shape)
    Sink.overwrite(spark.range(4)
      .select(col("id").as("k"), (col("id") % 2).as("band")).coalesce(1),
      dst, format = "graft-warehouse",
      options = Map("clusterBy" -> "band", "bloomFilters" -> "k",
        "bloomBits" -> "65536"))
    Sink.overwrite(spark.range(4, 24)
      .select(col("id").as("k"), (col("id") % 2).as("band")).coalesce(1),
      src, format = "graft-warehouse")
    val q = spark.readStream.format("graft-warehouse").load(src)
      .writeStream.format("graft-warehouse")
      .option("checkpointLocation", scratch("layout_ckpt"))
      .option("path", dst)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000))
    val m = WarehouseMeta.readManifest(dst).get
    assert(Sink.read(spark, dst, "graft-warehouse").count() === 24L)
    assert(m.files.forall(m.parts.contains),
      "streamed files cluster-split without any sink option")
    assert(m.files.forall(f => m.blooms.get(f).exists(_ == Seq("k"))),
      "streamed files carry the inherited bloom index")
  }

  test("complete mode commits each epoch as a WRITE_TRUNCATE snapshot") {
    val src = scratch("complete_src")
    val dst = scratch("complete_dst")
    Sink.overwrite(spark.range(10)
      .select(col("id").as("k"), (col("id") % 2).as("g")).coalesce(1),
      src, format = "graft-warehouse")
    val q = spark.readStream.format("graft-warehouse").load(src)
      .groupBy("g").agg(count(lit(1)).as("n"))
      .writeStream.format("graft-warehouse")
      .outputMode("complete")
      .option("checkpointLocation", scratch("complete_ckpt"))
      .option("path", dst)
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000))
    val m = WarehouseMeta.readManifest(dst).get
    assert(m.disposition === "WRITE_TRUNCATE",
      "complete mode = whole-result snapshot per epoch")
    assert(Sink.read(spark, dst, "graft-warehouse").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ===
      Seq((0L, 5L), (1L, 5L)))
  }
}
