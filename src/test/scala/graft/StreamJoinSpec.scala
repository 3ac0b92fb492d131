package graft

/** Within-watermark dedup: the streaming pass over the events file must
  * emit each event id exactly once.
  */
class StreamJoinSpec extends SparkSpec {

  test("dropDuplicatesWithinWatermark collapses duplicate event ids") {
    import org.apache.spark.sql.functions._
    graft.core.GraftFunctions.ensureRegistered(spark)
    val rawSchema = spark.read
      .parquet(graft.core.Tables.path(sf, "events")).schema
    def load() = spark.readStream
      .schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .format("parquet")
      .load(sf)
      .transform(graft.core.Catalog.rebuildTs(_, "ts"))
    // union the stream with itself: every event arrives twice
    val doubled = load().union(load())
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
    val q = doubled.select("event_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_ddww_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql(
      "SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM stream_ddww_out")
      .collect().head
    val total = graft.core.Tables.read(spark, sf, "events").count()
    assert(streamed.getLong(0) === total)   // each id exactly once
    assert(streamed.getLong(1) === total)
  }
}
