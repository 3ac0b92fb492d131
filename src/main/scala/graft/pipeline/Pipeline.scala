package graft.pipeline

import java.util.concurrent.{Callable, ExecutionException, Executors,
  TimeUnit}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{KeyMapper, Normalize, Tables, TimeParse}
import graft.dims.{DimLoader, Generators, NationDim, PartDim, PriorityDim,
  SegmentDim, SupplierDim}
import graft.facts.Star
import graft.io.Sink

/** The full ETL DAG (reference §3.1 `main.py:26-191`) over the testdata
  * star: static date and time dims (main.py:33-43), the incremental
  * [start, end) slice, a dim loop that builds each dim from the slice and
  * keeps it for key assignment (main.py:46-68), and facts stamped with
  * surrogate keys (main.py:101-181).
  *
  * The ten loads run in three waves, in the star schema's order: W1
  * `dim_date`, `dim_time` and the five dims; W2 `fact_lineitem` and
  * `fact_orders`; W3 `fact_integrated`. Frames are built lazily, wave by
  * wave, on the calling thread, which also does all function registration:
  * W1's frames first, then each later wave's frames while the wave before
  * it runs. Frames that more than one action reads are cached, as the
  * reference holds them across stages (main.py:58-67): the normalized
  * slices, the five dims and the two stamped facts. `run` releases them in
  * a `finally`. A dim's row count comes off a metrics node below its cache
  * ([[cachedRows]]), so no action counts it.
  *
  * The reference loads one table at a time (`job.result()` in a serial
  * loop); here each load of a wave, an independent action over cached
  * frames, runs on its own fresh thread, made by the calling thread so its
  * jobs inherit the caller's job group, scheduler pool and description.
  * Each load is one SQL action: an empty `graft-warehouse` append commits
  * nothing by itself ([[Sink.append]]). A wave starts only once every load
  * before it succeeded: no fact lands unless every dim landed, and
  * `fact_integrated` only after both domain facts. A wave runs all its
  * loads to their end before it throws, also when building the next
  * wave's frames threw, so no cache is released under a running write.
  * Slices stay sequential ([[Backfill]]).
  */
object Pipeline {

  final case class Config(
      sfDir: String,
      outDir: String,
      start: String, // inclusive, yyyy-MM-dd (slice predicate on l_shipdate)
      end: String,   // exclusive
      // false = faithful reference semantics (dims re-append per run,
      // SURVEY §2.8 quirk); true = idempotent anti-join upsert (§7.4.6)
      idempotentDims: Boolean = false,
      // terminal boundary format: "parquet" (driver testdata layout) or
      // "graft-warehouse" (the load-job sink — the reference's BigQuery
      // WRITE_APPEND boundary, dim_loader.py:23-30)
      sinkFormat: String = "parquet")

  def run(spark: SparkSession, cfg: Config): Map[String, Long] = {
    val persisted = mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { persisted += df; df.cache() }
    try runSlice(spark, cfg, keep)
    // dependents first, so no release re-plans a cache built on another
    finally persisted.reverseIterator.foreach(_.unpersist())
  }

  private def runSlice(spark: SparkSession, cfg: Config,
      keep: DataFrame => DataFrame): Map[String, Long] = {
    def append(df: DataFrame, table: String, partitionBy: Seq[String] = Nil) =
      table -> (() => Sink.append(df, s"${cfg.outDir}/$table", partitionBy,
        format = cfg.sinkFormat))

    // 1. static dims — regenerated and appended per run, preserving the
    // reference's append-duplication quirk (§3.3)
    val dateDim = Generators.dateDim(spark, "2020-01-01", "2026-12-31")
    val timeDim = Generators.timeDim(spark)

    // 2. extract: the incremental slice (P2 pushed to the scan)
    val raw = Star.rawFact(spark, cfg.sfDir)
      .filter(col("l_shipdate") >= lit(cfg.start).cast("timestamp") &&
        col("l_shipdate") < lit(cfg.end).cast("timestamp"))

    // pre-normalize the natural-key columns (main.py:83-96)
    val naturalCols =
      PartDim.naturalCols ++ SupplierDim.naturalCols ++ NationDim.naturalCols
    val cleaned = keep(Normalize.normalizeStrings(raw, naturalCols))

    // 3. dim loop: build from the slice, retain for key assignment
    def buildDims(source: DataFrame,
        loaders: Seq[(String, DimLoader)]): Seq[(String, DimLoader, DataFrame)] =
      loaders.map { case (name, loader) =>
        (name, loader, keep(loader.build(source)
          .observe(rowsMetric(name), count(lit(1)))))
      }
    def stampKeys(source: DataFrame,
        dims: Seq[(String, DimLoader, DataFrame)]): DataFrame =
      dims.foldLeft(source) { case (f, (_, loader, dim)) =>
        KeyMapper.assignKeys(f, dim, loader.naturalCols, loader.keyName)
      }
    val dims = buildDims(cleaned, Seq(
      "dim_part" -> PartDim, "dim_supplier" -> SupplierDim,
      "dim_nation" -> NationDim))

    // second fact domain (reference's parking fact, main.py:148-181):
    // orders enriched with customer attributes, two dims stamped
    val rawOrders = Tables.read(spark, cfg.sfDir, "orders")
      .filter(col("o_orderdate") >= lit(cfg.start).cast("timestamp") &&
        col("o_orderdate") < lit(cfg.end).cast("timestamp"))
      .join(broadcast(Tables.read(spark, cfg.sfDir, "customer")
        .select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .drop("c_custkey")
    val ordersCleaned = keep(Normalize.normalizeStrings(rawOrders,
      PriorityDim.naturalCols ++ SegmentDim.naturalCols))
    val ordersDims = buildDims(ordersCleaned, Seq(
      "dim_priority" -> PriorityDim, "dim_segment" -> SegmentDim))
    val allDims = dims ++ ordersDims

    // 4. W1 loads the dims; meanwhile both facts are stamped with keys
    // from the retained dims. Parquet facts land partitioned by year so
    // reads prune; a warehouse table's layout is table config (as in
    // BigQuery).
    val (w1, (fact, ordersFact)) = wave(
      Seq(append(dateDim, "dim_date"), append(timeDim, "dim_time")) ++
        allDims.map { case (name, loader, dim) =>
          if (!cfg.idempotentDims) append(dim, name)
          else name -> (() => Sink.upsertDim(spark, dim, s"${cfg.outDir}/$name",
            loader.naturalCols, format = cfg.sinkFormat))
        }) {
      val fact = keep(stampKeys(cleaned, dims)
        .withColumn("ship_date_key", TimeParse.dateKey(col("l_shipdate")))
        .withColumn("ship_year", (col("ship_date_key") / 10000).cast("int"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
          "l_discount", "ship_date_key", "ship_year", "part_key",
          "supplier_key", "nation_key"))
      val ordersFact = keep(stampKeys(ordersCleaned, ordersDims)
        .withColumn("order_date_key", TimeParse.dateKey(col("o_orderdate")))
        .select("o_orderkey", "o_totalprice", "order_date_key", "prio_key",
          "segment_key"))
      (fact, ordersFact)
    }

    // 5. W2 loads the facts; meanwhile the integrated fact
    // (load_integrated_fact.py:6-24) union-by-names both domains onto the
    // shared (domain, date_key, amount) shape
    val (w2, integrated) = wave(Seq(
        append(fact, "fact_lineitem",
          if (cfg.sinkFormat == "parquet") Seq("ship_year") else Nil),
        append(ordersFact, "fact_orders"))) {
      fact
        .select(lit("lineitem").as("domain"),
          col("ship_date_key").as("date_key"),
          col("l_extendedprice").as("amount"))
        .unionByName(ordersFact.select(lit("orders").as("domain"),
          col("order_date_key").as("date_key"),
          col("o_totalprice").as("amount")))
    }

    // 6. W3, then observability counts (main.py:60-63): rows observed by
    // each write, and each dim's rows, observed while its cache was built
    val (w3, _) = wave(Seq(append(integrated, "fact_integrated")))(())
    w1 ++ w2 ++ w3 ++ allDims.map { case (n, _, dim) => n -> cachedRows(dim, n) }
  }

  /** Starts `loads` at once, one fresh daemon thread each, and runs `next`
    * on the calling thread while they run. Every started load runs to its
    * end, also when `next` throws. The first failure in load order is
    * rethrown, with the other failures (and `next`'s) suppressed. */
  private def wave[T](loads: Seq[(String, () => Long)])(
      next: => T): (Map[String, Long], T) = {
    val pool = Executors.newFixedThreadPool(loads.size, { r: Runnable =>
      val t = new Thread(r, "graft-pipeline-load"); t.setDaemon(true); t })
    try {
      val started = loads.map { case (_, load) =>
        pool.submit((() => load()): Callable[Long]) }
      val built = Try(next)
      val done = started.map { f =>
        try Success(f.get())
        catch { case e: ExecutionException => Failure(e.getCause) } }
      val failures = (done :+ built).flatMap(_.failed.toOption)
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed); throw first }
      (loads.map(_._1).zip(done.map(_.get)).toMap, built.get)
    } finally {
      // waits only if a submit or `next` threw fatally: every started load
      // has ended otherwise
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS): Unit
    }
  }

  private def rowsMetric(dim: String): String = s"graft_rows_$dim"

  /** Rows of a dim cached under `observe(rowsMetric(name), count(lit(1)))`,
    * read through the cached scan without a job. It is the total once the
    * dim's load has built every partition of its cache: an append or an
    * upsert's anti-join scans every row, also of an empty dim. The metric
    * lives on the cached plan, so it sums every job that built a part of
    * the cache; a one-shot `Observation` would hold only the first such
    * job's rows (a file format's `limit 1` guard may build one partition). */
  private def cachedRows(dim: DataFrame, name: String): Long =
    dim.queryExecution.observedMetrics(rowsMetric(name)).getLong(0)

  /** Read back a pipeline output table. */
  def table(spark: SparkSession, outDir: String, name: String,
      format: String = "parquet"): DataFrame =
    Sink.read(spark, s"$outDir/$name", format)
}

/** Backfill orchestrator (reference `load_history.py:4-17`): replay
  * month-at-a-time slices over a date range, one `Pipeline.run` per month
  * in the same session, where the reference forks a subprocess. Each slice
  * re-derives its dims and releases what it persisted. Slices run one
  * after another (only a slice's own loads overlap): a slice's dim
  * upserts anti-join against what the slices before it landed.
  */
object Backfill {

  def monthSlices(start: String, end: String): Seq[(String, String)] = {
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    val s0 = java.time.LocalDate.parse(start).withDayOfMonth(1)
    val e = java.time.LocalDate.parse(end)
    Iterator.iterate(s0)(_.plusMonths(1)).takeWhile(_.isBefore(e))
      .map(m => (m.format(fmt), m.plusMonths(1).format(fmt)))
      .toSeq
  }

  /** One `Pipeline.run` per month of `[cfg.start, cfg.end)`; every other
    * field of `cfg` (dim mode, sink format) applies to each slice.
    */
  def run(spark: SparkSession, cfg: Pipeline.Config): Seq[Map[String, Long]] =
    monthSlices(cfg.start, cfg.end).map { case (s, e) =>
      Pipeline.run(spark, cfg.copy(start = s, end = e))
    }
}
