package graft

import org.apache.spark.sql.functions._

import graft.io.Sink
import graft.sources.WarehouseScanStats

/** DSv2 aggregate pushdown on the warehouse table: global MIN/MAX/COUNT(*)
  * answered from manifest zone maps — zero data files planned — with
  * value-identical fallbacks whenever metadata can't PROVE the answer
  * (filters, group-by, string columns, count(col)).
  */
class WarehouseAggSpec extends SparkSpec {

  private def table(path: String) = {
    import spark.implicits._
    val df = Seq(
      (5L, 10, "kiwi", Some(100L)),
      (2L, 40, "apple", None),
      (9L, -3, "pear", Some(7L)),
      (4L, 8, "fig", None))
      .toDF("k", "v", "name", "opt")
    Sink.overwrite(df.repartition(3, col("k")), path,
      format = "graft-warehouse")
    Sink.read(spark, path, "graft-warehouse")
  }

  test("global min/max/count(*) serve from the manifest: zero files " +
    "planned, values exact") {
    val path = scratch("serve")
    val t = table(path)
    val row = t.agg(min("k").as("mn"), max("k").as("mx"),
      count(lit(1)).as("n"), min("v").as("vmn"), max("v").as("vmx"))
      .collect().head
    assert(WarehouseScanStats.lastAggServed,
      "aggregate must be answered from metadata")
    assert(WarehouseScanStats.lastPlannedFiles === 0)
    assert(row.getLong(0) === 2L && row.getLong(1) === 9L)
    assert(row.getLong(2) === 4L)
    assert(row.getInt(3) === -3 && row.getInt(4) === 40)
  }

  test("a residual filter refuses the pushdown and still gets the right " +
    "answer from a real scan") {
    val path = scratch("filter")
    val t = table(path)
    val row = t.filter(col("k") >= 4L)
      .agg(min("k").as("mn"), count(lit(1)).as("n")).collect().head
    assert(!WarehouseScanStats.lastAggServed,
      "a filtered aggregate must read data")
    assert(row.getLong(0) === 4L && row.getLong(1) === 3L)
  }

  test("group-by, string min, and sum(distinct) refuse; values match a " +
    "parquet-side recompute") {
    val path = scratch("refuse")
    val t = table(path)
    val g = t.groupBy("v").agg(count(lit(1))).collect()
    assert(!WarehouseScanStats.lastAggServed && g.length === 4)
    val sm = t.agg(min("name")).collect().head.getString(0)
    assert(!WarehouseScanStats.lastAggServed && sm === "apple")
    val sd = t.agg(sum_distinct(col("v"))).collect().head.getLong(0)
    assert(!WarehouseScanStats.lastAggServed && sd === 55L)
  }

  test("count(col) and sum(col) serve from per-file non-null counts and " +
    "overflow-guarded sums") {
    val path = scratch("sums")
    val t = table(path)
    val row = t.agg(count(col("opt")).as("c"), sum("opt").as("so"),
      sum("v").as("sv"), sum("k").as("sk")).collect().head
    assert(WarehouseScanStats.lastAggServed,
      "count(col)/sum must be answered from metadata")
    assert(row.getLong(0) === 2L)      // nulls excluded
    assert(row.getLong(1) === 107L)    // 100 + 7, nulls skipped
    assert(row.getLong(2) === 55L)     // int column sums as long
    assert(row.getLong(3) === 20L)
  }

  test("sum over an all-null column is NULL from metadata, like the real " +
    "aggregate") {
    import spark.implicits._
    val path = scratch("sumnull")
    val df = Seq((1L, None: Option[Long]), (2L, None)).toDF("k", "empty")
    Sink.overwrite(df, path, format = "graft-warehouse")
    val row = Sink.read(spark, path, "graft-warehouse")
      .agg(sum("empty").as("s"), count(col("empty")).as("c"))
      .collect().head
    assert(WarehouseScanStats.lastAggServed)
    assert(row.isNullAt(0) && row.getLong(1) === 0L)
  }

  test("a per-file sum overflow refuses the pushdown and still answers " +
    "from data") {
    import spark.implicits._
    val path = scratch("overflow")
    val df = Seq((1L, Long.MaxValue), (2L, Long.MaxValue), (3L, -5L))
      .toDF("k", "big")
    // one partition => one file accumulates MaxValue twice -> overflow
    Sink.overwrite(df.coalesce(1), path, format = "graft-warehouse")
    val got = Sink.read(spark, path, "graft-warehouse")
      .agg(sum(col("big") / 4).as("s")).collect().head.getDouble(0)
    assert(!WarehouseScanStats.lastAggServed)
    // metadata sum for `big` itself must have been dropped, so a direct
    // sum(big) falls back to a real scan as well
    Sink.read(spark, path, "graft-warehouse").agg(sum("big")).collect()
    assert(!WarehouseScanStats.lastAggServed)
    assert(got === (Long.MaxValue.toDouble / 4) * 2 + (-5.0 / 4))
  }

  test("all-null integral column: min/max are null from metadata, like " +
    "the real aggregate") {
    import spark.implicits._
    val path = scratch("nulls")
    val df = Seq((1L, None: Option[Long]), (2L, None))
      .toDF("k", "empty")
    Sink.overwrite(df, path, format = "graft-warehouse")
    val row = Sink.read(spark, path, "graft-warehouse")
      .agg(min("empty").as("mn"), max("empty").as("mx"),
        count(lit(1)).as("n")).collect().head
    assert(WarehouseScanStats.lastAggServed)
    assert(row.isNullAt(0) && row.isNullAt(1) && row.getLong(2) === 2L)
  }

  test("GROUP BY exactly the cluster key serves per-group partials from " +
    "the manifest: zero files planned, grouped values exact") {
    import spark.implicits._
    val path = scratch("grouped")
    val df = Seq(
      ("a", 5L, Some(2L)), ("a", 1L, None), ("b", 7L, Some(3L)),
      ("b", 9L, Some(4L)), ("c", -2L, None))
      .toDF("g", "x", "opt")
    Sink.overwrite(df.repartition(2, col("g")), path,
      format = "graft-warehouse", options = Map("clusterBy" -> "g"))
    val t = Sink.read(spark, path, "graft-warehouse")
    def agged(src: org.apache.spark.sql.DataFrame) =
      src.groupBy("g").agg(count(lit(1)).as("n"), min("x").as("mn"),
          max("x").as("mx"), sum("x").as("sx"), count(col("opt")).as("no"))
        .orderBy("g").collect().toSeq
    val got = agged(t)
    assert(WarehouseScanStats.lastAggServed,
      "grouped aggregate on the cluster key must serve from metadata")
    assert(WarehouseScanStats.lastPlannedFiles === 0)
    assert(got === agged(df))
    // grouping on a NON-cluster column refuses and answers from data
    val g2 = t.groupBy("x").agg(count(lit(1))).collect()
    assert(!WarehouseScanStats.lastAggServed && g2.length === 5)
    // a second grouping column alongside the cluster key refuses too
    val g3 = t.groupBy("g", "x").agg(count(lit(1))).collect()
    assert(!WarehouseScanStats.lastAggServed && g3.length === 5)
  }

  test("append accumulates row counts across generations; count serves " +
    "the union") {
    import spark.implicits._
    val path = scratch("append")
    val df = Seq((1L, 5L), (2L, 6L)).toDF("k", "v")
    Sink.append(df, path, format = "graft-warehouse")
    Sink.append(df.select(col("k") + 10, col("v")).toDF("k", "v"), path,
      format = "graft-warehouse")
    val row = Sink.read(spark, path, "graft-warehouse")
      .agg(count(lit(1)).as("n"), max("k").as("mx")).collect().head
    assert(WarehouseScanStats.lastAggServed)
    assert(row.getLong(0) === 4L && row.getLong(1) === 12L)
  }
}
