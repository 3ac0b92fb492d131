package graft

class StreamingDedupSpec extends SparkSpec {

  test("streaming dropDuplicates dedups users across the stream (§2.8 quirk fixed in-stream)") {
    import org.apache.spark.sql.functions._
    graft.core.GraftFunctions.ensureRegistered(spark)
    val rawSchema = spark.read
      .parquet(graft.core.Tables.path(sf, "events")).schema
    val q = spark.readStream
      .schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .format("parquet")
      .load(sf)
      .transform(graft.core.Catalog.rebuildTs(_, "ts"))
      .withWatermark("ts", "1 hour")
      .dropDuplicates("user_id")
      .select("user_id")
      .writeStream.outputMode("append").format("memory")
      .queryName("stream_dedup_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT count(*) FROM stream_dedup_out")
      .collect().head.getLong(0)
    val distinctUsers = graft.core.Tables.read(spark, sf, "events")
      .select("user_id").distinct().count()
    assert(streamed === distinctUsers)
  }
}

/** Driver-contract sanity: every declared query runs on sf0.001, every
  * oracle key points at a declared query, and the flagship entry is
  * non-empty (the driver's smoke check).
  */
class QueriesSpec extends SparkSpec {

  test("oracle keys are a subset of query keys") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"orphan oracles: ${os.diff(qs)}")
  }

  test("entry (flagship star build) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query executes on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, s"$name failed")
    }
  }

  // The driver's comparator sorts/hashes result columns with pandas; an
  // array/map/struct-typed output column is unhashable there and the gate
  // errors out regardless of value agreement (round-4 `text_postings`).
  // Same lesson class as round-3's uncast-SUM HUGEINT drift: the declared
  // surface must emit scalars only — stringify prefixes with array_join.
  private def complexCols(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]
        || f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType]
        || f.dataType.isInstanceOf[org.apache.spark.sql.types.StructType] =>
        s"${f.name}: ${f.dataType.simpleString}"
    }.toSeq

  test("no declared query emits array/map/struct output columns") {
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        complexCols(fn(spark, sf)).map(c => s"$name -> $c")
    }
    assert(bad.isEmpty,
      "\nDeclared queries with driver-unhashable output columns:\n  " +
        bad.mkString("\n  "))
  }

  test("the complex-type lint catches a seeded array column") {
    import spark.implicits._
    val seeded = Seq((1L, Seq("a", "b"))).toDF("id", "postings")
    assert(complexCols(seeded) == Seq("postings: array<string>"))
  }
}
