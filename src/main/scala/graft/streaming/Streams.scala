package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.Tables

/** Streaming layer. The reference has no streaming engine but its operating
  * model is incremental micro-batch (SURVEY §2.8): daily slices, append
  * sinks. The event transforms here are plain DataFrame functions with
  * declared, oracle-checked batch faces; the streaming path graft runs is
  * the warehouse MERGE stream below plus the `graft-warehouse` source and
  * sink (`sources/WarehouseStream.scala`).
  */
object Streams {

  /** Run `body` with `spark.sql.shuffle.partitions` pinned to the
    * aggregation's KEY-DOMAIN bound (never above the session's own
    * setting) and restore the session value afterwards.
    *
    * A streaming aggregation allocates one state store per shuffle
    * partition, and each store pays a fixed per-micro-batch cost (open,
    * delta write, fsync, snapshot bookkeeping) regardless of how few
    * keys it holds. For queries whose grouping key domain is BOUNDED BY
    * CONSTRUCTION (the warehouse stream fixtures group by an 8-way band
    * or a (change_type, generation) pair — ≤9 distinct keys at every
    * scale factor), running |cores| state stores is pure overhead at ANY
    * cluster size: measured at sf0.1/local[32], the state stage of
    * stream_warehouse_source spent 52 s of task time across 32 state
    * partitions vs 2.1 s across 8 (per-store cost is superlinear in
    * concurrent stores — they contend on provider locks and fsyncs).
    * This is a key-cardinality setting, not a core-count tune: a
    * 1000-core cluster still wants ≤|keys| state stores for these
    * queries, while corpus-sized aggregations (which scale their key
    * count with data) keep the session default.
    */
  def withStatePartitions[T](spark: SparkSession, keyBound: Int)(
      body: => T): T = {
    val prev = spark.sessionState.conf.numShufflePartitions
    spark.conf.set("spark.sql.shuffle.partitions",
      math.max(1, math.min(prev, keyBound)).toString)
    try body
    finally spark.conf.set("spark.sql.shuffle.partitions", prev.toString)
  }

  /** Tumbling 5-minute window aggregate per event type — the canonical
    * watermarked streaming aggregation, written as a plain DataFrame
    * transform so batch and streaming share one definition. Sums go
    * through DECIMAL for order-independent results.
    */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Batch face of the streaming aggregate (declared as a query). */
  def windowedAggBatch(spark: SparkSession, dir: String): DataFrame =
    windowedAgg(Tables.read(spark, dir, "events"))
      .orderBy("window_start", "event_type")

  /** Exactly-once ingestion under at-least-once delivery, batch face: the
    * input is the events table with every 10th event re-delivered (the
    * injected duplicates stand in for a replaying feed); `dropDuplicates`
    * on the event id restores exactly-once, and the aggregate equals the
    * clean table's — which is precisely what the oracle checks. Scale:
    * dedup-by-key is one hash exchange on the id.
    */
  def dedupBatch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.read(spark, dir, "events")
    val redelivered = ev.unionAll(ev.filter(pmod(col("event_id"), lit(10)) === 0))
    redelivered
      .dropDuplicates("event_id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  /** Sessionization, batch form (gaps-and-islands): a new session starts
    * after a quiet gap > `gapMinutes`. Classic curation/analytics shape;
    * all arithmetic in epoch-microsecond integers so the DuckDB oracle is
    * bit-exact.
    */
  def sessionizeBatch(spark: SparkSession, dir: String,
      gapMinutes: Int = 30): DataFrame = {
    val events = Tables.read(spark, dir, "events")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_idx", sum("new_sess")
        .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx").cast("long").as("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
      .orderBy("user_id", "session_idx")
  }

  /** Native session-window sessionization (Spark's SessionWindow state
    * operator): a session absorbs every event that arrives within
    * `gapMinutes` of the last one; window end = last event + gap. One
    * transform for batch AND streaming — in streaming the state store
    * merges/evicts sessions by watermark, which is exactly the shape that
    * scales: state ∝ open sessions, emission ∝ closed sessions, no
    * per-event driver anything.
    *
    * Session membership boundary: an event at exactly `gap` after the
    * previous one starts a NEW session (Spark merges only when the next
    * start is strictly inside the open window) — the oracle mirrors this
    * with `>=` on the microsecond diff.
    */
  def sessionWindowAgg(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .groupBy(session_window(col("ts"), s"$gapMinutes minutes"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss")
          .as("session_end"),
        col("n_events"), col("total_value"))

  /** Batch face of the session-window aggregate (declared as a query). */
  def sessionWindowBatch(spark: SparkSession, dir: String): DataFrame =
    sessionWindowAgg(Tables.read(spark, dir, "events"))
      .orderBy("user_id", "session_start")

  /** Streaming face of the warehouse MERGE (round-14): a file-source CDC
    * changelog applied per-trigger through
    * [[graft.sources.WarehouseMerge.applyChangelogCow]] — every
    * micro-batch is ONE atomic copy-on-write MERGE generation (zone-hit
    * files rewrite, the rest carry by reference), so a reader always sees
    * a complete changeset, never a torn one, and a failed batch leaves the
    * table at the last committed generation while the checkpoint replays
    * it. Ordering contract: WITHIN a batch the operator's highest-seq-wins
    * semantics hold for any interleaving; ACROSS batches the file source's
    * arrival order applies batches in sequence, so a key must not travel
    * backwards in `seqCol` across changelog files — exactly the
    * per-partition-ordered contract a CDC feed (binlog shipper, Debezium
    * topic) provides. `foreachBatch` is the right surface: the CoW merge
    * is a batch planner job, and the stream engine supplies offsets,
    * replay, and exactly-once batch boundaries.
    */
  def warehouseMergeStream(spark: SparkSession, logDir: String,
      tablePath: String, key: String, seqCol: String, opCol: String,
      checkpoint: String): StreamingQuery = {
    graft.core.GraftFunctions.ensureRegistered(spark)
    val schema = spark.read.parquet(logDir).schema
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1) // one changelog file per batch
      .format("parquet")
      .load(logDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty)
          graft.sources.WarehouseMerge.applyChangelogCow(
            batch.sparkSession, tablePath, batch.toDF(),
            key = key, seqCol = seqCol, opCol = opCol): Unit
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .start()
  }
}
