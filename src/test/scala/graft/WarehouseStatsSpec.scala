package graft

import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

import graft.io.Sink
import graft.sources.{WarehouseMeta, WarehouseScan, WarehouseScanStats}

/** Round-13 DSv2 warehouse capabilities: CBO statistics from the manifest
  * (SupportsReportStatistics — pruning-aware numRows/sizeInBytes, so the
  * optimizer broadcasts a small/filtered warehouse dim WITHOUT a hint)
  * and LIMIT pushdown (file-prefix planning from per-file row counts +
  * per-reader early stop).
  */
class WarehouseStatsSpec extends SparkSpec {

  test("manifest statistics reach the optimizer: a small warehouse dim " +
    "broadcast-joins with NO hint") {
    val dimPath = scratch("dim")
    val dim = spark.range(50).select(col("id").as("k"),
      (col("id") % 7).as("grp"))
    Sink.overwrite(dim.repartition(2), dimPath, format = "graft-warehouse")
    // fact side big enough that Spark must pick the dim as build side
    val fact = spark.range(2000000).select(col("id").as("k"),
      (col("id") * 2).as("v"))
    val joined = fact.join(Sink.read(spark, dimPath, "graft-warehouse"), "k")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = joined.queryExecution.executedPlan
      val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
      assert(bhj.nonEmpty,
        s"expected a hint-free broadcast join from manifest stats:\n$plan")
      assert(bhj.exists(_.toString.contains("graft-warehouse")),
        "the warehouse dim must be the broadcast side")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(joined.count() === 50L)
  }

  test("statistics are pruning-aware: a zone filter shrinks numRows " +
    "exactly to the surviving files' counts") {
    val path = scratch("pruned")
    // 8 range files over k = 0..799, 100 rows each
    val t = spark.range(800).select(col("id").as("k"))
    Sink.overwrite(t.repartitionByRange(8, col("k")), path,
      format = "graft-warehouse")
    val m = WarehouseMeta.readManifest(path).get
    val full = new WarehouseScan(path, m, m.schema, Array.empty)
    assert(full.estimateStatistics().numRows().getAsLong === 800L)
    assert(full.estimateStatistics().sizeInBytes().getAsLong > 0L)
    val filtered = new WarehouseScan(path, m, m.schema,
      Array(org.apache.spark.sql.sources.LessThan("k", 100L)))
    val n = filtered.estimateStatistics().numRows().getAsLong
    assert(n < 800L && n >= 100L,
      s"filter must shrink stats to the surviving zone files (got $n)")
  }

  test("ORDER BY + LIMIT plans a range-ordered file prefix (top-N " +
    "pushdown): disjoint zones prove the plan; overlap and nulls stay " +
    "correct") {
    import spark.implicits._
    val path = scratch("topn")
    val t = spark.range(800).select(col("id").as("k"),
      (col("id") * 7).as("v"))
    Sink.overwrite(t.repartitionByRange(8, col("k")), path,
      format = "graft-warehouse")
    val wh = Sink.read(spark, path, "graft-warehouse")
    val asc = wh.orderBy(col("k")).limit(5).collect().map(_.getLong(0))
    assert(asc.toSeq === (0L until 5L).toSeq)
    assert(WarehouseScanStats.lastPlannedFiles === 1,
      s"asc top-5 over disjoint 100-row zones must plan ONE file, " +
        s"planned ${WarehouseScanStats.lastPlannedFiles}")
    val desc = wh.orderBy(col("k").desc).limit(5).collect()
      .map(_.getLong(0))
    assert(desc.toSeq === (799L to 795L by -1L).toSeq)
    assert(WarehouseScanStats.lastPlannedFiles === 1)
    // overlapping zones: every file spans the domain, the overlap
    // extension pulls them all — full plan, same answer
    val path2 = scratch("topn_overlap")
    Sink.overwrite(t.repartition(4), path2, format = "graft-warehouse")
    val o = Sink.read(spark, path2, "graft-warehouse")
      .orderBy(col("k")).limit(3).collect().map(_.getLong(0))
    assert(o.toSeq === Seq(0L, 1L, 2L))
    assert(WarehouseScanStats.lastPlannedFiles === 4)
    // null-bearing files always join the plan; NULLS FIRST answers hold
    val path3 = scratch("topn_nulls")
    val withNulls = spark.range(200).select(
      when(col("id") < 3, lit(null).cast("long")).otherwise(col("id"))
        .as("k"))
    Sink.overwrite(withNulls.repartitionByRange(4, col("k")), path3,
      format = "graft-warehouse")
    val got = Sink.read(spark, path3, "graft-warehouse")
      .orderBy(col("k")).limit(5).collect()
      .map(r => if (r.isNullAt(0)) -1L else r.getLong(0))
    assert(got.toSeq === Seq(-1L, -1L, -1L, 3L, 4L))
  }

  test("COMPOSITE top-N plans on the first key alone (round-14): " +
    "ORDER BY zone_key, x LIMIT n keeps the 1-file zone plan, boundary " +
    "ties stay exact under the secondary tie-break") {
    val path = scratch("topn_multi")
    // tie-heavy first key: band = id div 10 => 100-row files hold bands
    // [0,9] [10,19] … with ~10 rows per band; v deliberately REVERSES
    // inside each band so the composite tie-break matters
    val t = spark.range(800).select(expr("id div 10").as("band"),
      (lit(800L) - col("id")).as("v"), col("id").as("k"))
    Sink.overwrite(t.repartitionByRange(8, col("band"), col("k")), path,
      format = "graft-warehouse")
    val wh = Sink.read(spark, path, "graft-warehouse")
    // composite ASC: exact answer + 1-file plan
    val got = wh.orderBy(col("band"), col("v")).limit(15)
      .select("band", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = t.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(identity).take(15)
    assert(got.toSeq === want.toSeq)
    assert(WarehouseScanStats.lastPlannedFiles === 1,
      s"composite top-15 over disjoint band zones must plan ONE file, " +
        s"planned ${WarehouseScanStats.lastPlannedFiles}")
    // composite DESC first key, ASC secondary: same contract
    val gotD = wh.orderBy(col("band").desc, col("v")).limit(15)
      .select("band", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
    val wantD = t.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (b, v) => (-b, v) }.take(15)
    assert(gotD.toSeq === wantD.toSeq)
    assert(WarehouseScanStats.lastPlannedFiles === 1)
    // boundary tie ACROSS files: a top-n cutting exactly at a band that
    // spans two files must pull both (the bound-overlap rule); take
    // n = 105 so the covering bound lands in the second file
    wh.orderBy(col("band"), col("v")).limit(105).collect()
    assert(WarehouseScanStats.lastPlannedFiles >= 2)
  }

  test("LIMIT plans a file prefix and stops decoding early; a filtered " +
    "limit refuses the prefix but stays correct") {
    val path = scratch("limit")
    val t = spark.range(800).select(col("id").as("k"),
      (col("id") * 3).as("v"))
    Sink.overwrite(t.repartitionByRange(8, col("k")), path,
      format = "graft-warehouse")
    val wh = Sink.read(spark, path, "graft-warehouse")
    assert(wh.limit(5).collect().length === 5)
    assert(WarehouseScanStats.lastPlannedFiles === 1,
      s"LIMIT 5 over 100-row files must plan ONE file, " +
        s"planned ${WarehouseScanStats.lastPlannedFiles}")
    assert(wh.limit(250).collect().length === 250)
    assert(WarehouseScanStats.lastPlannedFiles === 3,
      "LIMIT 250 over 100-row files must plan a 3-file prefix")
    // filtered limit: the residual predicate above the scan could drop
    // rows, so the prefix serve refuses — results stay exact
    val got = wh.filter(col("k") >= 500L).limit(5).collect()
    assert(got.length === 5 && got.forall(_.getLong(0) >= 500L))
  }
}
