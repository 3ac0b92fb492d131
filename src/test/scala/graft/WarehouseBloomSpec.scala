package graft

import org.apache.spark.sql.functions._

import graft.io.Sink
import graft.ops.Maintenance
import graft.sources.{WarehouseCow, WarehouseMeta, WarehouseScanStats}

/** Bloom-filter file skipping: per-file sidecar blooms prune `=` / `IN`
  * point lookups (static and runtime DPP) that zone maps cannot, the
  * index is table-sticky across appends and CoW rewrites, VACUUM keeps
  * live sidecars, and every degradation direction is conservative.
  */
class WarehouseBloomSpec extends SparkSpec {

  /** 8 range-partitioned files over id, with a SCRAMBLED lookup column
    * `v` whose per-file [min,max] spans nearly the whole domain — the
    * exact shape where zone maps keep every file and only a bloom can
    * prune. v is a bijection of id (odd multiplier mod 2^20). */
  private def scrambled(n: Long) = spark.range(n)
    .select(col("id").as("k"),
      ((col("id") * 2654435761L) % (1L << 20)).as("v"),
      concat(lit("u"), ((col("id") * 40503L) % (1L << 20)).cast("string"))
        .as("name"))

  test("= and IN on a scrambled column prune to the owning files; a " +
    "missing value prunes to ZERO files") {
    val path = scratch("eq")
    Sink.overwrite(scrambled(8000).repartitionByRange(8, col("k")), path,
      format = "graft-warehouse",
      options = Map("bloomFilters" -> "v,name", "bloomBits" -> "65536"))
    val m = WarehouseMeta.readManifest(path).get
    assert(m.files.size === 8)
    assert(m.files.forall(f => m.blooms.get(f).exists(
      _.toSet == Set("v", "name"))), "every file carries both blooms")
    def planned(): Int = WarehouseScanStats.lastPlannedFiles
    // k=4321 lives in file floor(4321/1000); its v is unique
    val v4321 = (4321L * 2654435761L) % (1L << 20)
    val hit = Sink.read(spark, path, "graft-warehouse")
      .filter(col("v") === v4321).collect()
    assert(hit.map(_.getAs[Long]("k")).toSeq === Seq(4321L))
    assert(planned() <= 2,
      s"bloom must prune the 8-file zone-overlapped scan (planned " +
        s"${planned()})")
    // a value NOT in the table: zones can't exclude it, blooms prove it
    val none = Sink.read(spark, path, "graft-warehouse")
      .filter(col("v") === 999999L).collect()
    assert(none.isEmpty)
    assert(planned() === 0, s"absent value must plan ZERO files " +
      s"(planned ${planned()})")
    // IN over two values from two different files
    val v77 = (77L * 2654435761L) % (1L << 20)
    val v7077 = (7077L * 2654435761L) % (1L << 20)
    val in2 = Sink.read(spark, path, "graft-warehouse")
      .filter(col("v").isin(v77, v7077)).collect()
    assert(in2.map(_.getAs[Long]("k")).sorted.toSeq === Seq(77L, 7077L))
    assert(planned() <= 3, s"IN prunes to the owning files (planned " +
      s"${planned()})")
    // string bloom
    val sHit = Sink.read(spark, path, "graft-warehouse")
      .filter(col("name") === s"u${(4321L * 40503L) % (1L << 20)}")
      .collect()
    assert(sHit.map(_.getAs[Long]("k")).toSeq === Seq(4321L))
    assert(planned() <= 2, s"string bloom prunes (planned ${planned()})")
  }

  test("runtime DPP key sets probe blooms: a broadcast join plans only " +
    "the build side's files even when every zone overlaps") {
    val path = scratch("dpp")
    Sink.overwrite(scrambled(8000).repartitionByRange(8, col("k")), path,
      format = "graft-warehouse",
      options = Map("bloomFilters" -> "v", "bloomBits" -> "65536"))
    // dim selects two v values via a non-join column (Catalyst can't
    // fold them into a static filter on the fact — only the runtime In
    // reaches the scan; a range-backed dim keeps the selective filter
    // alive past ConvertToLocalRelation)
    val dim = spark.range(8000).select(
      ((col("id") * 2654435761L) % (1L << 20)).as("v"),
      (col("id") % 4240L).as("grp"))
      .filter(col("grp") === 81L) // -> ids {81, 4321}
    val joined = Sink.read(spark, path, "graft-warehouse")
      .join(broadcast(dim), "v").collect()
    assert(joined.map(_.getAs[Long]("k")).sorted.toSeq === Seq(81L, 4321L))
    assert(WarehouseScanStats.lastRuntimeFilters >= 1)
    assert(WarehouseScanStats.lastPlannedFiles <= 3,
      s"runtime bloom probe must prune files (planned " +
        s"${WarehouseScanStats.lastPlannedFiles} of 8)")
  }

  test("the index is table-sticky: appends, CoW rewrites, and OPTIMIZE " +
    "inherit it without re-declaring") {
    val path = scratch("sticky")
    Sink.overwrite(scrambled(2000).repartitionByRange(2, col("k")), path,
      format = "graft-warehouse",
      options = Map("bloomFilters" -> "v", "bloomBits" -> "65536"))
    // append WITHOUT the option: inherits
    Sink.append(spark.range(2000, 3000)
      .select(col("id").as("k"),
        ((col("id") * 2654435761L) % (1L << 20)).as("v"),
        concat(lit("u"), ((col("id") * 40503L) % (1L << 20))
          .cast("string")).as("name")).coalesce(1),
      path, format = "graft-warehouse")
    val m1 = WarehouseMeta.readManifest(path).get
    assert(m1.files.size === 3)
    assert(m1.files.forall(f => m1.blooms.contains(f)),
      "appended files must inherit the bloom index")
    // CoW update rewrites some files; rewritten files get fresh sidecars
    WarehouseCow.updateWhereCow(spark, path,
      org.apache.spark.sql.sources.LessThan("k", 500L),
      Map("name" -> "'x'"))
    val m2 = WarehouseMeta.readManifest(path).get
    assert(m2.files.forall(f => m2.blooms.contains(f)),
      "CoW-rewritten files must carry fresh blooms")
    // bin-packing OPTIMIZE keeps coverage too
    Maintenance.optimizeWarehouse(spark, path)
    val m3 = WarehouseMeta.readManifest(path).get
    assert(m3.files.forall(f => m3.blooms.contains(f)),
      "OPTIMIZE output must carry blooms")
    // and the index still prunes: absent value -> zero files
    assert(Sink.read(spark, path, "graft-warehouse")
      .filter(col("v") === 999999L).count() === 0L)
    assert(WarehouseScanStats.lastPlannedFiles === 0)
  }

  test("VACUUM keeps live sidecars, collects orphaned ones; RENAME " +
    "drops only the renamed column's coverage") {
    val path = scratch("vac")
    Sink.overwrite(scrambled(1000).coalesce(1), path,
      format = "graft-warehouse",
      options = Map("bloomFilters" -> "v,name", "bloomBits" -> "65536"))
    // a rewrite orphans the old file + sidecar in the old generation
    WarehouseCow.updateWhereCow(spark, path,
      org.apache.spark.sql.sources.LessThan("k", 10L),
      Map("name" -> "'y'"))
    val fs = WarehouseMeta.fs(path)
    def sidecars(): Seq[String] = {
      val dd = new org.apache.hadoop.fs.Path(path, "data")
      fs.listStatus(dd).toSeq.filter(_.isDirectory).flatMap(d =>
        fs.listStatus(d.getPath).toSeq.map(_.getPath.getName))
        .filter(_.endsWith(".bloom"))
    }
    assert(sidecars().size === 2, "old + rewritten sidecar before vacuum")
    Maintenance.vacuumWarehouse(path, keepGenerations = 1)
    assert(sidecars().size === 1, "vacuum collects the orphaned sidecar")
    val kept = WarehouseMeta.readManifest(path).get
    assert(kept.files.forall(f => kept.blooms.get(f).exists(
      _.toSet == Set("v", "name"))))
    // live index still prunes after vacuum
    assert(Sink.read(spark, path, "graft-warehouse")
      .filter(col("v") === 999999L).count() === 0L)
    assert(WarehouseScanStats.lastPlannedFiles === 0)
    // rename v -> w: v's coverage drops (sidecars key the old name),
    // name's stays
    graft.sources.WarehouseEvolve.renameColumn(path, "v", "w")
    val m = WarehouseMeta.readManifest(path).get
    assert(m.bloomConf.map(_._1.toSet) === Some(Set("name")))
    assert(m.files.forall(f => m.blooms.get(f).exists(_.toSet ==
      Set("name"))))
    // conservative: point lookup on w scans (1 file) but stays correct
    assert(Sink.read(spark, path, "graft-warehouse")
      .filter(col("w") === 999999L).count() === 0L)
  }
}
