package graft

import org.apache.spark.sql.functions._

import graft.io.Sink
import graft.sources.WarehouseScanStats

/** DSv2 runtime (DPP-style) file pruning: a selective broadcast build
  * side delivers its key set to the warehouse scan AT EXECUTION, and the
  * zone maps drop whole files dynamically — planned files fall below the
  * total while results stay identical to the unfiltered join.
  */
class WarehouseRuntimeFilterSpec extends SparkSpec {

  test("a broadcast join's key set prunes warehouse files at runtime") {
    import spark.implicits._
    val path = scratch("fact")
    // 8 range-clustered files over k = 0..799: file i holds [i*100, i*100+99]
    val fact = spark.range(800).select(col("id").as("k"),
      (col("id") * 2).as("v"))
    Sink.overwrite(fact.repartitionByRange(8, col("k")), path,
      format = "graft-warehouse")

    // dim touches only two zones (k = 5 and k = 750) — selected via a
    // NON-join column so Catalyst can't fold the keys into a static
    // predicate on the fact side: only runtime pruning can drop files
    val dim = spark.range(1000).select(col("id").as("k"),
        (col("id") % 745).as("grp"))
      .filter(col("grp") === 5L) // -> k in {5, 750}
    val joined = Sink.read(spark, path, "graft-warehouse")
      .join(broadcast(dim), "k")
      .orderBy("k")
      .collect()
    assert(joined.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq === Seq((5L, 10L, 5L), (750L, 1500L, 5L)))
    assert(WarehouseScanStats.lastRuntimeFilters >= 1,
      "the DPP In-filter must reach the scan")
    assert(WarehouseScanStats.lastPlannedFiles < 8,
      s"runtime pruning must drop zone files " +
        s"(planned ${WarehouseScanStats.lastPlannedFiles} of 8)")
  }

  test("two batch scans of one unchanged generation each prune files " +
    "and the second reuses the parsed manifest") {
    val table = scratch("table")
    // 8 range-clustered files over k = 0..799
    val fact = spark.range(800).select(col("id").as("k"),
      (col("id") * 3).as("v"))
    Sink.overwrite(fact.repartitionByRange(8, col("k")), table,
      format = "graft-warehouse")
    // two narrow, disjoint key sets — each scan can touch only 1-2 of the
    // 8 zone files
    def scan(keys: Seq[Long]): Seq[(Long, Long)] =
      Sink.read(spark, table, "graft-warehouse")
        .filter(col("k").isin(keys: _*)).orderBy("k")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    WarehouseScanStats.plannedLog.clear()
    assert(scan(Seq(10L, 15L, 110L)) ===
      Seq((10L, 30L), (15L, 45L), (110L, 330L)))
    val hits = graft.sources.WarehouseMeta.manifestCacheHits.get
    assert(scan(Seq(705L, 790L)) === Seq((705L, 2115L), (790L, 2370L)))
    val planned = {
      val it = WarehouseScanStats.plannedLog.iterator()
      val buf = scala.collection.mutable.ArrayBuffer[Int]()
      while (it.hasNext) buf += it.next()
      buf.toSeq
    }
    assert(planned.size >= 2, s"expected >=2 scans, saw $planned")
    assert(planned.forall(p => p >= 1 && p < 8),
      s"every scan must prune zone files: $planned")
    // the second scan planned from the cached manifest parse
    assert(graft.sources.WarehouseMeta.manifestCacheHits.get > hits,
      "an unchanged generation must not re-parse the manifest per scan")
  }

  test("runtime pruning never changes results: full-domain build side " +
    "keeps every file") {
    import spark.implicits._
    val path = scratch("full")
    val fact = spark.range(200).select(col("id").as("k"),
      (col("id") % 7).as("v"))
    Sink.overwrite(fact.repartitionByRange(4, col("k")), path,
      format = "graft-warehouse")
    val dim = spark.range(400).select(col("id").as("k"),
        (col("id") % 2).as("grp"))
      .filter(col("grp").isin(0L, 1L)) // selects every key
    val n = Sink.read(spark, path, "graft-warehouse")
      .join(broadcast(dim), "k").count()
    assert(n === 200L)
    assert(WarehouseScanStats.lastPlannedFiles === 4,
      "a non-selective key set proves no file empty")
  }
}
