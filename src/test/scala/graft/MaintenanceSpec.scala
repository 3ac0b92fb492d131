package graft

import java.io.File

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.Maintenance

/** Compaction invariants (round 4). */
class MaintenanceSpec extends SparkSpec {

  test("compactWarehouse: a fragmented table compacts to an atomic new " +
    "generation — rows identical, metadata serves intact, time travel " +
    "keeps the old layout, cluster layouts survive") {
    import org.apache.spark.sql.functions._
    import graft.io.Sink
    import graft.sources.{WarehouseMeta, WarehouseScanStats}
    val path = scratch("wh_compact")
    val t = spark.range(400).select(col("id").as("k"),
      (col("id") % 5).as("v"))
    Sink.overwrite(t.repartition(16, col("k")), path,
      format = "graft-warehouse")
    val gen0 = WarehouseMeta.readManifest(path).get.generation
    val (before, after) =
      Maintenance.compactWarehouse(spark, path, targetFiles = 2)
    assert(before === 16 && after === 2)
    val rd = Sink.read(spark, path, "graft-warehouse")
    val row = rd.agg(count(lit(1)), sum("k"), sum("v")).head()
    assert(row.getLong(0) === 400L && row.getLong(1) === 79800L)
    assert(WarehouseScanStats.lastPlannedFiles <= 2)
    // the compacted generation serves aggregates from fresh metadata
    rd.agg(min("k"), max("k"), count(lit(1))).collect()
    assert(WarehouseScanStats.lastAggServed)
    // time travel: the pre-compaction generation still plans 16 files
    // (the filter blocks the COUNT(*) metadata serve, forcing a real scan)
    assert(Sink.read(spark, path, "graft-warehouse",
      Map("generation" -> gen0.toString))
      .filter(col("k") >= 0L).count() === 400L)
    assert(WarehouseScanStats.lastPlannedFiles === 16)
    // clustered table: layout invariant survives compaction
    val cp = scratch("wh_compact_cl")
    Sink.overwrite(t.repartition(8, col("v")), cp,
      format = "graft-warehouse", options = Map("clusterBy" -> "v"))
    Maintenance.compactWarehouse(spark, cp, targetFiles = 1)
    val m = WarehouseMeta.readManifest(cp).get
    assert(m.clusterBy === Some("v"))
    assert(m.files.forall(m.parts.contains))
    assert(m.files.size === 5) // 1 task x 5 cluster values
    assert(Sink.read(spark, cp, "graft-warehouse").count() === 400L)
  }

  test("optimizeWarehouse: bin-packing rewrites ONLY small files — " +
    "compliant files carry byte-identical paths, data survives exactly, " +
    "time travel keeps the fragmented layout, re-OPTIMIZE is a no-op") {
    import graft.io.Sink
    import graft.sources.{WarehouseMeta, WarehouseScanStats}
    val path = scratch("wh_opt")
    // 2 big files (10k rows each, ~>100 KB) + 6 micro-batch appends
    // (50 rows each, ~1 KB) — the steady-state streaming-sink shape
    val big = spark.range(20000).select(col("id").as("k"),
      (col("id") * 3).as("v"))
    Sink.overwrite(big.repartition(2), path, format = "graft-warehouse")
    for (i <- 0 until 6) {
      val small = spark.range(20000 + i * 50, 20000 + (i + 1) * 50)
        .select(col("id").as("k"), (col("id") * 3).as("v"))
      Sink.append(small.coalesce(1), path, format = "graft-warehouse")
    }
    val m0 = WarehouseMeta.readManifest(path).get
    assert(m0.files.size === 8)
    val fs = WarehouseMeta.fs(path)
    val bigFiles = m0.files.filter(f => fs.getFileStatus(
      new org.apache.hadoop.fs.Path(path, f)).getLen >= 10000L)
    assert(bigFiles.size === 2, "fixture: exactly the 2 loads are big")
    val st = Maintenance.optimizeWarehouse(spark, path,
      smallBytes = 10000L, targetBytes = 1L << 20)
    assert(st.rewritten === 1 && st.carried === 2)
    assert(st.filesBefore === 8 && st.filesAfter === 3)
    val m1 = WarehouseMeta.readManifest(path).get
    assert(m1.disposition === "OPTIMIZE")
    // the 2 compliant files carried BY REFERENCE: identical path strings
    // (immutable files — path identity IS byte identity)
    assert(bigFiles.forall(m1.files.contains))
    // data identical through the rewrite
    val rd = Sink.read(spark, path, "graft-warehouse")
    val row = rd.agg(count(lit(1)), sum("k"), sum("v")).head()
    assert(row.getLong(0) === 20300L)
    assert(row.getLong(1) === (0L until 20300L).sum)
    assert(row.getLong(2) === 3L * (0L until 20300L).sum)
    // fresh metadata serves on the optimized generation
    rd.agg(min("k"), max("k")).collect()
    assert(WarehouseScanStats.lastAggServed)
    // time travel: the fragmented generation still plans 8 files
    assert(Sink.read(spark, path, "graft-warehouse",
      Map("generation" -> m0.generation.toString))
      .filter(col("k") >= 0L).count() === 20300L)
    assert(WarehouseScanStats.lastPlannedFiles === 8)
    // idempotent: one packed small file left -> nothing to bin-pack
    val st2 = Maintenance.optimizeWarehouse(spark, path,
      smallBytes = 10000L, targetBytes = 1L << 20)
    assert(st2.rewritten === 0)
    assert(WarehouseMeta.readManifest(path).get.generation ===
      m1.generation)
  }

  test("optimizeWarehouse: cluster layouts survive bin-packing (one " +
    "value per file) and the writer cardinality cap cannot trip") {
    import graft.io.Sink
    import graft.sources.WarehouseMeta
    val path = scratch("wh_opt_cl")
    val t = spark.range(2000).select(col("id").as("k"),
      (col("id") % 5).as("b"))
    Sink.overwrite(t.repartition(1), path, format = "graft-warehouse",
      options = Map("clusterBy" -> "b"))
    // 5 cluster files; append 5 more tiny loads (one per value)
    for (i <- 0 until 5) {
      Sink.append(spark.range(2000 + i * 10, 2000 + (i + 1) * 10)
        .select(col("id").as("k"), lit(i.toLong).as("b")).coalesce(1),
        path, format = "graft-warehouse",
        options = Map("clusterBy" -> "b"))
    }
    val m0 = WarehouseMeta.readManifest(path).get
    assert(m0.files.size === 10)
    val st = Maintenance.optimizeWarehouse(spark, path,
      smallBytes = 1L << 20, targetBytes = 1L << 20) // everything small
    val m1 = WarehouseMeta.readManifest(path).get
    assert(m1.clusterBy === Some("b"))
    assert(m1.files.forall(m1.parts.contains), "SPJ invariant survives")
    assert(st.filesAfter === 5) // one task x 5 values
    assert(Sink.read(spark, path, "graft-warehouse").count() === 2050L)
  }

  test("compact: 64 fragments become few files with identical data") {
    val frag = scratch("frag")
    val out = scratch("out")
    val ev = Tables.read(spark, sf, "events")
    ev.repartition(64).write.parquet(frag)
    assert(new File(frag).listFiles().count(_.getName.endsWith(".parquet")) == 64)
    val stats = Maintenance.compact(spark, frag, out, 1L << 30) // one big file
    assert(stats.inFiles == 64 && stats.outFiles == 1L)
    assert(stats.rows == ev.count())
    // content identical, not just counted: compare full aggregates
    val agg = (d: org.apache.spark.sql.DataFrame) => d
      .agg(count(lit(1)), sum(col("event_id")),
        sum(col("value").cast("decimal(18,6)"))).collect().head.toSeq
    assert(agg(spark.read.parquet(out)) == agg(ev))
  }

  test("compact: republish over an existing output leaves no debris") {
    val frag = scratch("frag3")
    val out = scratch("out3")
    val ev = Tables.read(spark, sf, "events")
    ev.repartition(8).write.parquet(frag)
    Maintenance.compact(spark, frag, out, 1L << 30)
    // second publish replaces the first via the rename-aside protocol:
    // the previous copy must be renamed ASIDE (never deleted before the
    // new data is live) and cleaned up after — no _old/_stage leftovers.
    val stats = Maintenance.compact(spark, frag, out, 1L << 30)
    assert(stats.rows == ev.count())
    assert(spark.read.parquet(out).count() == ev.count())
    val parent = new File(out).getParentFile
    val debris = parent.listFiles().map(_.getName).filter(n =>
      n.startsWith(new File(out).getName + "_old") ||
        n.startsWith(new File(out).getName + "_stage"))
    assert(debris.isEmpty, debris.mkString(", "))
  }

  test("compact: target bytes controls the output file count") {
    val frag = scratch("frag2")
    val out = scratch("out2")
    Tables.read(spark, sf, "events").repartition(16).write.parquet(frag)
    val inBytes = new File(frag).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val target = inBytes / 4 + 1
    val stats = Maintenance.compact(spark, frag, out, target)
    // ceil(inBytes / target) = 4 (±0 — the sizing is driver metadata math)
    assert(stats.outFiles == (inBytes + target - 1) / target)
  }
}
