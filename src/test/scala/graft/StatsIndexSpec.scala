package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.io.StatsIndex

/** Gates the parts of stats-pruning the oracle can't see: that pruning
  * actually removes files on a clustered layout, that the pruned result is
  * exactly the full-scan filter, and that null-stats files survive
  * conservatively.
  */
class StatsIndexSpec extends SparkSpec {

  private def clusteredOrders(path: String): Unit = {
    val o = Tables.read(spark, sf, "orders")
      .withColumn("o_orderdate", to_date(col("o_orderdate")))
    o.repartitionByRange(16, col("o_orderdate"))
      .sortWithinPartitions("o_orderdate")
      .write.mode("overwrite").parquet(path)
  }

  /** The table's min date — windows are data-relative because the driver
    * regenerates testdata (and its date range) between rounds. */
  private def minDate(path: String): java.time.LocalDate =
    spark.read.parquet(path).agg(min(col("o_orderdate")))
      .first().getDate(0).toLocalDate

  test("pruning reads a strict subset of a clustered table's files") {
    val path = scratch("statsidx_clustered")
    clusteredOrders(path)
    val stats = StatsIndex.build(spark, path, Seq("o_orderdate"))
    val total = stats.count()
    val d0 = minDate(path)
    val lo = java.sql.Date.valueOf(d0.plusYears(1))
    val hi = java.sql.Date.valueOf(d0.plusYears(2).minusDays(1))
    val picked = StatsIndex.candidateFiles(stats, "o_orderdate", lo, hi)
    // ~1 year of ~7 → a small fraction of the 16 range-partitioned files
    assert(picked.nonEmpty && picked.size < total / 2,
      s"picked ${picked.size} of $total files")
    // and the physical scan honors it
    val pruned = StatsIndex.prunedScan(spark, path, stats, "o_orderdate",
      lo, hi)
    assert(pruned.inputFiles.length == picked.size)
  }

  test("pruned scan result equals the unpruned filter exactly") {
    val path = scratch("statsidx_equal")
    clusteredOrders(path)
    val stats = StatsIndex.build(spark, path, Seq("o_orderdate"))
    val d0 = minDate(path)
    val lo = java.sql.Date.valueOf(d0.plusMonths(2))
    val hi = java.sql.Date.valueOf(d0.plusMonths(17))
    val pruned = StatsIndex.prunedScan(spark, path, stats, "o_orderdate",
      lo, hi)
    val full = spark.read.parquet(path)
      .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") <= lit(hi))
    assert(pruned.count() === full.count())
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
  }

  test("files with null-only stats are kept conservatively; empty prune → empty frame") {
    val path = scratch("statsidx_nulls")
    import spark.implicits._
    // one file of real values, one file of nulls only
    Seq(Some(10L), Some(20L)).toDF("k").coalesce(1)
      .write.mode("overwrite").parquet(path)
    Seq(Option.empty[Long], Option.empty[Long]).toDF("k").coalesce(1)
      .write.mode("append").parquet(path)
    val stats = StatsIndex.build(spark, path, Seq("k"))
    // null-stats file must survive any range (it could hide matches in a
    // format whose stats were dropped) — the scan's re-filter discards it
    val picked = StatsIndex.candidateFiles(stats, "k", 15L, 25L)
    assert(picked.size === 2)
    assert(StatsIndex.prunedScan(spark, path, stats, "k", 15L, 25L)
      .count() === 1)
    // a fully-out-of-range predicate prunes to the null file only; and a
    // range nothing could match returns an empty, correctly-shaped frame
    val none = StatsIndex.prunedScan(spark, path, stats, "k", 100L, 200L)
    assert(none.count() === 0)
    assert(none.schema.fieldNames.toSeq === Seq("k"))
  }

  test("partitioned layout: colliding basenames stay distinct and reconstruct") {
    val path = scratch("statsidx_nested")
    import spark.implicits._
    // one task writing two partition dirs emits the SAME part-00000-<uuid>
    // basename in each — the collision a basename-keyed index can't hold
    (1L to 8L).toDF("k").withColumn("p", col("k") % 2)
      .coalesce(1).write.partitionBy("p").parquet(path)
    val stats = StatsIndex.build(spark, path, Seq("k"))
    val files = stats.select("file").collect().map(_.getString(0))
    assert(files.length === 2, files.mkString(","))
    assert(files.distinct.length === files.length, "file keys collided")
    assert(files.forall(_.contains("/")), s"not root-relative: ${files.head}")
    // $path/$file reconstruction reads the right leaves
    val pruned = StatsIndex.prunedScan(spark, path, stats, "k", 2L, 5L)
      .select("k")
    val full = spark.read.parquet(path)
      .filter(col("k") >= 2L && col("k") <= 5L).select("k")
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
  }
}
