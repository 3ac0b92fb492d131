package graft

import org.apache.spark.sql.functions._

import graft.io.Layout

/** Z-order write layout: file-level min/max stats must narrow on BOTH
  * dimensions, where a linear sort narrows only its own column. A 256×256
  * grid makes the expected geometry exact: 16 Morton-range files = a 4×4
  * tile grid, so any point predicate on either dim touches 4 files; the
  * x-sorted layout leaves y full-range in all 16.
  */
class LayoutSpec extends SparkSpec {

  private val bits = 8
  private val files = 16

  private lazy val grid = spark.range(1L << 16)
    .select(pmod(col("id"), lit(256L)).as("zx"),
      (col("id") / 256).cast("long").as("zy"))

  test("z-ordered files prune on the dimension a linear sort ignores") {
    val zPath = scratch("layout_z")
    val xPath = scratch("layout_x")
    // both grid dims span 0..255, so at 8 bits the scaled key is the raw
    // Morton interleave
    Layout.writeZOrderedScaled(grid, "zx", "zy", zPath, bits, files)
    Layout.writeLinearSorted(grid, "zx", xPath, files)

    val probes = Seq(17L, 99L, 180L, 240L)
    val zTouched = probes.map(Layout.filesCovering(spark, zPath, "zy", _))
    val xTouched = probes.map(Layout.filesCovering(spark, xPath, "zy", _))
    assert(xTouched.forall(_ == files.toLong),
      s"x-sorted layout should be useless for y predicates: $xTouched")
    assert(zTouched.forall(_ <= files / 2),
      s"z-order should confine y values to a strict subset of files: $zTouched")
    assert(zTouched.sum * 2 <= xTouched.sum,
      s"expected ≥2× fewer y-files under z-order: z=$zTouched x=$xTouched")

    // and the z-ordered layout still prunes on x too (both dims clustered)
    val zxTouched = probes.map(Layout.filesCovering(spark, zPath, "zx", _))
    assert(zxTouched.forall(_ <= files / 2),
      s"z-order should also confine x values: $zxTouched")
  }

  test("scaled z-order on real unbalanced domains prunes on both dims; linear only on one") {
    import graft.io.StatsIndex
    val zPath = scratch("layout_zs")
    val lPath = scratch("layout_ls")
    val o = graft.core.Tables.read(spark, sf, "orders")
      .withColumn("o_dkey", unix_date(to_date(col("o_orderdate"))).cast("long"))
      .select(col("o_custkey").cast("long").as("o_custkey"), col("o_dkey"),
        col("o_orderkey"))
    // custkey and day domains differ in width — the scaled write must
    // balance them (raw interleave degenerates to a sort on the wider)
    Layout.writeZOrderedScaled(o, "o_custkey", "o_dkey", zPath)
    Layout.writeLinearSorted(o, "o_custkey", lPath)
    val zStats = StatsIndex.build(spark, zPath, Seq("o_custkey", "o_dkey"))
      .localCheckpoint()
    val lStats = StatsIndex.build(spark, lPath, Seq("o_custkey", "o_dkey"))
      .localCheckpoint()
    val total = zStats.count()
    val b = o.agg(min("o_custkey"), max("o_custkey"),
      min("o_dkey"), max("o_dkey")).first()
    // one-eighth-of-domain windows on each dimension
    def win(lo: Long, hi: Long): (Long, Long) = (lo, lo + (hi - lo) / 8)
    val (ckLo, ckHi) = win(b.getLong(0), b.getLong(1))
    val (dLo, dHi) = win(b.getLong(2), b.getLong(3))
    val zOnDate = StatsIndex.candidateFilesMulti(zStats, Seq(("o_dkey", dLo, dHi)))
    val lOnDate = StatsIndex.candidateFilesMulti(lStats, Seq(("o_dkey", dLo, dHi)))
    val zOnCk = StatsIndex.candidateFilesMulti(zStats, Seq(("o_custkey", ckLo, ckHi)))
    assert(lOnDate.size.toLong == total,
      s"custkey-sorted layout should be useless for date predicates: ${lOnDate.size}/$total")
    assert(zOnDate.size.toLong < total,
      s"z-order should skip files on date: ${zOnDate.size}/$total")
    assert(zOnCk.size.toLong < total,
      s"z-order should skip files on custkey too: ${zOnCk.size}/$total")
    // conjunctive pruned scan ≡ the plain 2-D filter
    val preds = Seq[(String, Any, Any)](
      ("o_custkey", ckLo, ckHi), ("o_dkey", dLo, dHi))
    val pruned = StatsIndex.prunedScanMulti(spark, zPath, zStats, preds)
    val full = spark.read.parquet(zPath)
      .filter(col("o_custkey").between(ckLo, ckHi) &&
        col("o_dkey").between(dLo, dHi))
    assert(pruned.count() === full.count())
    assert(pruned.exceptAll(full).isEmpty && full.exceptAll(pruned).isEmpty)
    // and the conjunction touches no more files than either dim alone
    val zOn2D = StatsIndex.candidateFilesMulti(zStats, preds)
    assert(zOn2D.size <= math.min(zOnDate.size, zOnCk.size))
  }

  test("morton key round-trips: interleave of bounded dims is stable") {
    import spark.implicits._
    val df = Seq((3L, 5L), (255L, 0L), (0L, 255L)).toDF("x", "y")
      .select(Layout.mortonInterleave(col("x"), col("y"), 8).as("z"))
    // 3 = 0b11 at even positions -> 0b101; 5 = 0b101 at odd -> 0b100010;
    // or-combined: 0b100111 = 39
    assert(df.collect().map(_.getLong(0)).toSeq ==
      Seq(39L, 0x5555L, 0xAAAAL))
  }
}
