package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

import graft.io.Sink
import graft.ops.Maintenance
import graft.sources.{WarehouseCow, WarehouseDelete}

/** Streaming change feed (`readChangeFeed=true`): typed change rows per
  * trigger — deletes are data (not a refusal), OPTIMIZE emits nothing,
  * CoW rewrites refuse toward the batch tableChanges API, and the CDC
  * meta columns prune like any other column.
  */
class WarehouseStreamCdcSpec extends SparkSpec {

  private def cdc(path: String): DataFrame =
    spark.readStream.format("graft-warehouse")
      .option("readChangeFeed", "true").load(path)

  private def chainMessages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")

  test("appends stream as insert rows, a metadata delete streams its " +
    "rows as delete, OPTIMIZE emits nothing") {
    val path = scratch("tour")
    def slice(r: Range) = spark.range(r.start, r.end)
      .select(col("id").as("k"), (col("id") / 10).cast("long").as("band"))
    Sink.overwrite(slice(0 until 20).repartition(1), path,
      format = "graft-warehouse", options = Map("clusterBy" -> "band"))
    Sink.append(slice(20 until 30).repartition(1), path,
      format = "graft-warehouse", options = Map("clusterBy" -> "band"))
    assert(WarehouseDelete.deleteWhere(path,
      org.apache.spark.sql.sources.EqualTo("band", 0L)) === 10L)
    Maintenance.optimizeWarehouse(spark, path)
    val got = new scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
    val q = cdc(path).writeStream
      .option("checkpointLocation", scratch("tour_ckpt"))
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        val rows = b.select("_change_type", "_commit_generation", "k")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        got.synchronized { got ++= rows }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val want =
      (0 until 20).map(k => ("insert", 0L, k.toLong)).toSet ++
        (20 until 30).map(k => ("insert", 1L, k.toLong)) ++
        (0 until 10).map(k => ("delete", 2L, k.toLong))
    assert(got.toSet === want)
    assert(got.size === want.size, "no duplicate change rows")
  }

  test("a CoW rewrite refuses toward the batch tableChanges API; " +
    "pruning away the meta columns still reads") {
    val path = scratch("cow")
    Sink.overwrite(spark.range(20)
      .select(col("id").as("k"), lit(1.0).as("v"),
        (col("id") / 10).cast("long").as("band")).repartition(1),
      path, format = "graft-warehouse", options = Map("clusterBy" -> "band"))
    WarehouseCow.updateWhereCow(spark, path,
      org.apache.spark.sql.sources.EqualTo("band", 0L), Map("v" -> "9.0d"))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = cdc(path).writeStream
        .option("checkpointLocation", scratch("cow_ckpt"))
        .foreachBatch { (_: Dataset[Row], _: Long) => () }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(chainMessages(ex).contains("tableChanges"),
      s"refusal must point at the batch API: ${chainMessages(ex)}")
    // data-column-only projection over the insert-only prefix window
    val path2 = scratch("prune")
    Sink.overwrite(spark.range(5).select(col("id").as("k")).coalesce(1),
      path2, format = "graft-warehouse")
    val ks = new scala.collection.mutable.ArrayBuffer[Long]()
    val types = new scala.collection.mutable.ArrayBuffer[String]()
    val q2 = cdc(path2).select("k").writeStream
      .option("checkpointLocation", scratch("prune_ckpt"))
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        ks.synchronized { ks ++= b.collect().map(_.getLong(0)) }
        ()
      }
      .start()
    try q2.processAllAvailable() finally q2.stop()
    assert(ks.sorted.toSeq === (0L until 5L))
    // meta-column-only projection
    val q3 = cdc(path2).select("_change_type").writeStream
      .option("checkpointLocation", scratch("prune_ckpt2"))
      .foreachBatch { (b: Dataset[Row], _: Long) =>
        types.synchronized { types ++= b.collect().map(_.getString(0)) }
        ()
      }
      .start()
    try q3.processAllAvailable() finally q3.stop()
    assert(types.toSeq === Seq.fill(5)("insert"))
  }
}
