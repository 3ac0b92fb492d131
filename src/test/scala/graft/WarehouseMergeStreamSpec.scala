package graft

import org.apache.spark.sql.functions._

import graft.io.Sink
import graft.sources.WarehouseMeta
import graft.streaming.Streams

/** Streaming CDC into the warehouse: each changelog file is one
  * micro-batch, each micro-batch one atomic copy-on-write MERGE
  * generation — carriage by reference per trigger, cross-batch
  * sequencing (a later wave deletes/resurrects an earlier wave's key),
  * and checkpoint replay safety (a re-run applies nothing twice).
  */
class WarehouseMergeStreamSpec extends SparkSpec {

  private def base(path: String): Unit = {
    val df = spark.range(400).select(col("id").as("k"),
      (col("id") * 10).as("v"), expr("id div 50").as("p"))
    Sink.overwrite(df.repartition(1), path,
      format = "graft-warehouse", options = Map("clusterBy" -> "p"))
  }

  private def wave(logDir: String, rows: Seq[(Long, Long, Long, String, Long)],
      first: Boolean): Unit = {
    import spark.implicits._
    rows.toDF("k", "v", "p", "op", "seq").coalesce(1)
      .write.mode(if (first) "overwrite" else "append").parquet(logDir)
    Thread.sleep(1100) // distinct mtimes -> deterministic file order
  }

  test("three changelog waves apply as three atomic MERGE generations; " +
    "cross-wave sequencing holds (update, then delete, then resurrect); " +
    "untouched files carry by reference per trigger") {
    val path = scratch("waves")
    val logDir = s"$path/_cdc_log"
    base(path)
    val m0 = WarehouseMeta.readManifest(path).get
    assert(m0.files.size === 8)
    // wave 1: updates in bands 0 and 6
    wave(logDir, Seq((17L, 171L, 0L, "U", 1L), (305L, 3051L, 6L, "U", 1L)),
      first = true)
    // wave 2: delete one of wave 1's keys + a fresh one (band 0)
    wave(logDir, Seq((17L, 0L, 0L, "D", 2L), (42L, 0L, 0L, "D", 2L)),
      first = false)
    // wave 3: resurrect k=17, insert a brand-new key past every zone
    wave(logDir, Seq((17L, 999L, 0L, "I", 3L), (1000L, 77L, 20L, "I", 3L)),
      first = false)
    val q = Streams.warehouseMergeStream(spark, logDir, path,
      key = "k", seqCol = "seq", opCol = "op",
      checkpoint = s"$path/_cdc_checkpoint")
    q.awaitTermination()
    val m3 = WarehouseMeta.readManifest(path).get
    assert(m3.generation === m0.generation + 3) // one generation per wave
    assert(m3.disposition === "MERGE")
    // band files 1-5 and 7 were never key-hit: paths carried verbatim
    val carried = m3.files.toSet intersect m0.files.toSet
    assert(carried.size === 6, s"carried=$carried")
    val t = Sink.read(spark, path, "graft-warehouse")
    assert(t.count() === 400L) // -42 -17 +17(resurrected) +1000
    val got = t.filter(col("k").isin(17L, 42L, 305L, 1000L))
      .orderBy("k").select("k", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((17L, 999L), (305L, 3051L), (1000L, 77L)))
    // every generation along the way is time-travel readable
    assert(Sink.read(spark, path, "graft-warehouse",
      Map("generation" -> m0.generation.toString)).count() === 400L)
  }

  test("checkpoint replay: re-running the stream over the same log " +
    "applies nothing; a NEW wave applies exactly once") {
    val path = scratch("replay")
    val logDir = s"$path/_cdc_log"
    base(path)
    wave(logDir, Seq((7L, 700L, 0L, "U", 1L)), first = true)
    val ckpt = s"$path/_cdc_checkpoint"
    Streams.warehouseMergeStream(spark, logDir, path,
      "k", "seq", "op", ckpt).awaitTermination()
    val g1 = WarehouseMeta.readManifest(path).get.generation
    // replay: no new files -> no triggers -> no generations
    Streams.warehouseMergeStream(spark, logDir, path,
      "k", "seq", "op", ckpt).awaitTermination()
    assert(WarehouseMeta.readManifest(path).get.generation === g1)
    // one new wave -> exactly one more generation
    wave(logDir, Seq((7L, 0L, 0L, "D", 2L)), first = false)
    Streams.warehouseMergeStream(spark, logDir, path,
      "k", "seq", "op", ckpt).awaitTermination()
    val m = WarehouseMeta.readManifest(path).get
    assert(m.generation === g1 + 1)
    val t = Sink.read(spark, path, "graft-warehouse")
    assert(t.count() === 399L)
    assert(t.filter(col("k") === 7L).count() === 0L)
  }
}
