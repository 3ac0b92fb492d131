package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{KeyMapper, Normalize, Tables, TimeParse}
import graft.dims.{DimLoader, Generators, NationDim, PartDim, PriorityDim,
  SegmentDim, SupplierDim}
import graft.facts.Star
import graft.io.Sink

/** The full ETL DAG (reference §3.1 `main.py:26-191`), retargeted to the
  * testdata star and parquet sinks:
  *
  *   1. static dims: date + time generators (main.py:33-43)
  *   2. extract: incremental [start, end) fact slice (stage 3)
  *   3. dim build loop: extract -> transform -> load, dims kept for
  *      key assignment (main.py:46-68)
  *   4. fact: clean -> stamp surrogate keys -> project -> append
  *      (main.py:101-146)
  *
  * Each source slice is read and joined once per run. Every sink call is
  * at least one Spark action (the skip-if-empty guard, then the write),
  * and without a cache each action would re-plan and re-run the whole
  * upstream join. So the run persists the frames that more than one
  * action reads — the Spark analog of the reference holding them in
  * memory across stages (main.py:58-67):
  *   - `cleaned`, the normalized lineitem slice: read by the three
  *     lineitem dims and by the stamped fact;
  *   - the five dims: each is loaded and then broadcast into key stamping;
  *   - `fact`, stamped and projected: read by `fact_lineitem` and
  *     `fact_integrated`;
  *   - `ordersCleaned` and `ordersFact`, the same roles for orders.
  * They are released in a `finally`, so a throwing sink leaks none of them.
  * A dim's row count comes off a metrics node below its cache (see
  * [[cachedRows]]), so no extra action counts it.
  *
  * Scale: the fact is written partitioned by ship date key prefix so
  * downstream incremental reads partition-prune; dims are tiny appends.
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
    // 1. static dims — regenerated and appended per run, preserving the
    // reference's append-duplication quirk (§3.3); use Sink.overwrite for
    // the idempotent variant.
    val dateDim = Generators.dateDim(spark, "2020-01-01", "2026-12-31")
    val timeDim = Generators.timeDim(spark)
    val nDateDim = Sink.append(dateDim, s"${cfg.outDir}/dim_date",
      format = cfg.sinkFormat)
    val nTimeDim = Sink.append(timeDim, s"${cfg.outDir}/dim_time",
      format = cfg.sinkFormat)

    // 2. extract: the incremental slice (P2 pushed to the scan)
    val raw = Star.rawFact(spark, cfg.sfDir)
      .filter(col("l_shipdate") >= lit(cfg.start).cast("timestamp") &&
        col("l_shipdate") < lit(cfg.end).cast("timestamp"))

    // pre-normalize the natural-key columns (main.py:83-96)
    val naturalCols =
      PartDim.naturalCols ++ SupplierDim.naturalCols ++ NationDim.naturalCols
    val cleaned = keep(Normalize.normalizeStrings(raw, naturalCols))

    // 3. dim loop: build from the slice, load, retain for key assignment
    def loadDims(source: DataFrame,
        loaders: Seq[(String, DimLoader)]): Seq[(String, DimLoader, DataFrame)] =
      loaders.map { case (name, loader) =>
        val dim = keep(loader.build(source)
          .observe(rowsMetric(name), count(lit(1))))
        if (cfg.idempotentDims)
          Sink.upsertDim(spark, dim, s"${cfg.outDir}/$name", loader.naturalCols,
            format = cfg.sinkFormat)
        else Sink.append(dim, s"${cfg.outDir}/$name", format = cfg.sinkFormat)
        (name, loader, dim)
      }
    def stampKeys(source: DataFrame,
        dims: Seq[(String, DimLoader, DataFrame)]): DataFrame =
      dims.foldLeft(source) { case (f, (_, loader, dim)) =>
        KeyMapper.assignKeys(f, dim, loader.naturalCols, loader.keyName)
      }
    val dims = loadDims(cleaned, Seq(
      "dim_part" -> PartDim, "dim_supplier" -> SupplierDim,
      "dim_nation" -> NationDim))

    // 4. fact: stamp keys from the retained dims, derive date key, project
    val fact = keep(stampKeys(cleaned, dims)
      .withColumn("ship_date_key", TimeParse.dateKey(col("l_shipdate")))
      .withColumn("ship_year", (col("ship_date_key") / 10000).cast("int"))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "ship_date_key", "ship_year", "part_key",
        "supplier_key", "nation_key"))
    // facts land partitioned by year so incremental reads partition-prune;
    // the row count is observed inside the write job (no DAG re-run)
    // directory partitioning is a parquet-layout concern; a warehouse
    // table's partitioning is internal table config (as in the reference's
    // BigQuery sink), so the load-job path takes the rows unpartitioned
    val nFact = Sink.append(fact, s"${cfg.outDir}/fact_lineitem",
      if (cfg.sinkFormat == "parquet") Seq("ship_year") else Nil,
      format = cfg.sinkFormat)

    // 5. second fact domain (reference's parking fact, main.py:148-181):
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
    val ordersDims = loadDims(ordersCleaned, Seq(
      "dim_priority" -> PriorityDim, "dim_segment" -> SegmentDim))
    val ordersFact = keep(stampKeys(ordersCleaned, ordersDims)
      .withColumn("order_date_key", TimeParse.dateKey(col("o_orderdate")))
      .select("o_orderkey", "o_totalprice", "order_date_key", "prio_key",
        "segment_key"))
    val nOrdersFact = Sink.append(ordersFact, s"${cfg.outDir}/fact_orders",
      format = cfg.sinkFormat)

    // 6. integrated fact (load_integrated_fact.py:6-24): both domains
    // union-by-name'd onto the shared (domain, date_key, amount) shape
    val integrated = fact
      .select(lit("lineitem").as("domain"),
        col("ship_date_key").as("date_key"),
        col("l_extendedprice").as("amount"))
      .unionByName(ordersFact.select(lit("orders").as("domain"),
        col("order_date_key").as("date_key"),
        col("o_totalprice").as("amount")))
    val nIntegrated = Sink.append(integrated,
      s"${cfg.outDir}/fact_integrated", format = cfg.sinkFormat)

    // observability counts (main.py:60-63): the write-observed row counts —
    // no sink's DAG runs twice — and each dim's rows, observed while its
    // cache was built.
    Map(
      "dim_date" -> nDateDim,
      "dim_time" -> nTimeDim,
      "fact_lineitem" -> nFact,
      "fact_orders" -> nOrdersFact,
      "fact_integrated" -> nIntegrated) ++
      (dims ++ ordersDims).map { case (name, _, dim) =>
        name -> cachedRows(dim, name)
      }
  }

  private def rowsMetric(dim: String): String = s"graft_rows_$dim"

  /** Rows of a dim cached with `observe(rowsMetric(name), count(lit(1)))`
    * under its `cache()`. The metrics node runs inside the cache build, and
    * `QueryExecution.observedMetrics` reads it through the cached scan
    * without running a job. The value is the total once every partition of
    * the cache is built; each partition is built once. By the time the
    * run reads it, the dim's load has built all of them: a write scans
    * every row, and a skip-if-empty guard that finds no row has scanned
    * every partition. The one-shot `Observation` would not do here: the
    * first action to report it is that `limit(1)` guard, which may stop
    * after one partition.
    */
  private def cachedRows(dim: DataFrame, name: String): Long =
    dim.queryExecution.observedMetrics(rowsMetric(name)).getLong(0)

  /** Read back a pipeline output table. */
  def table(spark: SparkSession, outDir: String, name: String,
      format: String = "parquet"): DataFrame =
    Sink.read(spark, s"$outDir/$name", format)
}

/** Backfill orchestrator (reference `load_history.py:4-17`): replay
  * month-at-a-time slices over a date range. The reference forks a
  * subprocess per month; here each slice is one `Pipeline.run` in the
  * same session — same isolation of state (each slice re-derives its
  * dims and releases what it persisted), none of the process overhead.
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
