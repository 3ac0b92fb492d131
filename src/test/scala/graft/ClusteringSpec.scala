package graft

import graft.core.Tables
import graft.ops.Clustering

/** Lloyd k-means: partition-of-corpus invariants and the decimal-exact
  * determinism claim (same result under a different physical partitioning).
  */
class ClusteringSpec extends SparkSpec {

  test("clusters partition the corpus and result is repartition-stable") {
    val emb = Tables.read(spark, sf, "embeddings")
    val out = Clustering.kmeansLloyd(emb, k = 4, iters = 2).collect()
    assert(out.length == 4)
    assert(out.map(_.getLong(1)).sum == emb.count())
    assert(out.forall(_.getDouble(2) > 0))

    // decimal-exact scoring ⇒ identical output when the input is split
    // across a different partition count (no float partial-sum drift)
    val out2 = Clustering.kmeansLloyd(emb.repartition(7), k = 4, iters = 2)
      .collect()
    assert(out.map(_.toSeq).toSeq == out2.map(_.toSeq).toSeq)
  }

  test("iters == 0 is rejected up front, not an NPE at the final groupBy") {
    val emb = Tables.read(spark, sf, "embeddings")
    val e = intercept[IllegalArgumentException] {
      Clustering.kmeansLloyd(emb, k = 4, iters = 0)
    }
    assert(e.getMessage.contains("at least one iteration"))
  }

  test("sparse / offset vec_ids still seed k centroids") {
    import spark.implicits._
    // ids start at 100 with gaps — the old `vec_id < k` init would seed
    // ZERO centroids here; the k-smallest-ids init must seed exactly k
    val emb = Seq(
      (100L, Array(0.0f, 0.0f)), (205L, Array(10.0f, 0.0f)),
      (317L, Array(0.0f, 10.0f)), (999L, Array(10.0f, 10.0f)))
      .toDF("vec_id", "embedding")
    val out = Clustering.kmeansLloyd(emb, k = 2, iters = 1).collect()
    assert(out.length == 2)
    assert(out.map(_.getLong(1)).sum == 4L)
  }

  test("seeded (kmeans||-style sampled) init beats a pathological first-k init") {
    import spark.implicits._
    // first two ids are the SAME point, so first-k init starts both
    // centroids on top of each other and one Lloyd round can't separate
    // them; the salted-hash sample spreads the seeds over the corpus
    val emb = (Seq((0L, Array(0.0f, 0.0f)), (1L, Array(0.0f, 0.0f))) ++
      (2L to 9L).map(i => (i, Array(i.toFloat * 10, i.toFloat * 10))))
      .toDF("vec_id", "embedding")
    val firstK = Clustering.kmeansCost(
      Clustering.kmeansFit(emb, k = 2, iters = 1, initSeed = None))
    val seeded = Clustering.kmeansCost(
      Clustering.kmeansFit(emb, k = 2, iters = 1, initSeed = Some(42L)))
    assert(seeded < firstK,
      s"sampled init cost $seeded should beat degenerate first-k $firstK")
  }

  test("persisted quantizer: parquet-roundtripped centroids reproduce the fresh fit") {
    val emb = Tables.read(spark, sf, "embeddings")
    val fresh = graft.ops.Similarity
      .ivfTrainedTopK(emb, graft.ops.Similarity.fitQuantizer(emb, nlists = 4),
        nQueries = 3, k = 3, nprobe = 2)
      .collect().map(_.toSeq).toSeq
    val dir = scratch("quantizer_spec")
    graft.ops.Similarity.fitQuantizer(emb, nlists = 4).write.parquet(dir)
    val cached = graft.ops.Similarity
      .ivfTrainedTopK(emb, spark.read.parquet(dir), nQueries = 3, k = 3,
        nprobe = 2)
      .collect().map(_.toSeq).toSeq
    // DECIMAL components survive the parquet roundtrip bit-exactly, so
    // the probe results must be identical, not merely close
    assert(cached == fresh)
  }

  test("IVF append: batch assignment ≡ full rebuild; drift gate demands refit") {
    import org.apache.spark.sql.functions._
    val emb = Tables.read(spark, sf, "embeddings")
    val base = emb.filter(col("vec_id") % 10 =!= 9)
    val batch = emb.filter(col("vec_id") % 10 === 9)
    val cen = graft.ops.Similarity.fitQuantizer(base, nlists = 4)
    // append ≡ assigning the whole corpus against the same frozen
    // centroids (the invariant that makes no-refit appends legitimate)
    val appended = graft.ops.Similarity
      .ivfAppend(graft.ops.Similarity.ivfAssign(base, cen), batch, cen)
      .collect().map(_.toSeq).toSet
    val rebuilt = graft.ops.Similarity.ivfAssign(emb, cen)
      .collect().map(_.toSeq).toSet
    assert(appended === rebuilt)
    // drift gate: appending MORE than the budget (here the 90% slice
    // onto the 10% slice's index) must refuse and demand a refit rather
    // than silently degrade recall under unrepresentative centroids
    val tiny = graft.ops.Similarity.ivfAssign(batch, cen)
    val boom = intercept[IllegalArgumentException] {
      graft.ops.Similarity.ivfAppend(tiny, base, cen)
    }
    assert(boom.getMessage.contains("refit required"))
    // an explicit larger budget admits the same append
    assert(graft.ops.Similarity
      .ivfAppend(tiny, base, cen, maxAppendFraction = 100.0)
      .count() === emb.count())
  }

  test("IVF lifecycle: refuse -> refit (patch ≡ fresh rebuild) -> accept") {
    import org.apache.spark.sql.functions._
    val S = graft.ops.Similarity
    val emb = Tables.read(spark, sf, "embeddings")
    val base = emb.filter(col("vec_id") % 10 < 6)   // 60%
    val grown = emb.filter(col("vec_id") % 10 >= 6) // 40% > 0.5·60%
    val cen0 = S.fitQuantizer(base, nlists = 4)
    val index0 = S.ivfAssign(base, cen0)

    // 1. REFUSE: the growth exceeds the drift budget of the frozen fit
    val boom = intercept[IllegalArgumentException] {
      S.ivfAppend(index0, grown, cen0)
    }
    assert(boom.getMessage.contains("refit required"))

    // 2. REFIT: patch the stale index under a quantizer re-fit on the
    // full corpus; the patched index must be ROW-IDENTICAL to a fresh
    // fitQuantizer + ivfAssign over the same corpus (patching is IO
    // optimization, not semantics — the ann_ivf_refit oracle's invariant)
    val refit = S.ivfRefit(index0, emb, nlists = 4)
    val cen1 = S.fitQuantizer(emb, nlists = 4)
    val fresh = S.ivfAssign(emb, cen1)
    assert(refit.collect().map(_.toSeq).toSet ===
      fresh.collect().map(_.toSeq).toSet)
    assert(refit.count() === emb.count())
    // the patch carries SOME base rows unchanged (the IO the refit
    // avoids): stale and fresh assignments overlap on stable vectors
    val carried = index0.join(fresh, Seq("vec_id", "list_id"), "left_semi")
    assert(carried.count() > 0)

    // 3. ACCEPT: the refit index + quantizer admit a modest new batch
    val next = emb.limit(20)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val after = S.ivfAppend(refit, next, cen1)
    assert(after.count() === emb.count() + 20)
  }

  test("power iteration recovers a planted dominant direction, repartition-stable") {
    import spark.implicits._
    // variance concentrated on dim 0 (values ±8), noise ~0.1 elsewhere:
    // the top singular direction is e0 up to sign, and max-abs
    // normalization makes the dominant loading EXACTLY ±1
    val emb = (0L until 40L).map { i =>
      val big = if (i % 2 == 0) 8.0f else -8.0f
      (i, Array(big, (i % 5) * 0.1f - 0.2f, (i % 3) * 0.1f - 0.1f))
    }.toDF("vec_id", "embedding")
    val out = Clustering.pcaPowerTop(emb, iters = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(out.length == 3)
    val byDim = out.map(r => r._1 -> r._2).toMap
    assert(math.abs(byDim(0L)) == 1.0, s"dominant loading: ${byDim(0L)}")
    assert(math.abs(byDim(1L)) < 0.1 && math.abs(byDim(2L)) < 0.1, byDim)
    // eig_est ≈ mean squared dominant coordinate (64.0) within noise terms
    assert(out.head._3 > 50 && out.head._3 < 80, s"eig_est ${out.head._3}")

    val out2 = Clustering.pcaPowerTop(emb.repartition(7), iters = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(out.toSeq == out2.toSeq)
  }

  test("power iteration: driver-iterated path bit-identical to distributed") {
    val emb = graft.core.Tables.read(spark, sf, "embeddings")
    val driver = Clustering.pcaPowerTop(emb, iters = 4)
      .collect().map(_.toSeq)
    // force the distributed loop by setting the width threshold below 64
    val dist = Clustering.pcaPowerTop(emb, iters = 4, driverIterateMaxDims = 0)
      .collect().map(_.toSeq)
    assert(driver.toSeq == dist.toSeq)
  }

  test("power iteration: all-zero corpus nulls BOTH columns on BOTH paths") {
    // Round-7 advice: the driver branch nulled loading AND eig_est on a
    // degenerate (all-zero) corpus, but the distributed branch at iters=1
    // surfaced eig_est = 0.0 (the growth scalar is decimal zero, not
    // null — only the 0/0 loading went null through the NaN→decimal
    // cast). Pin the symmetric behavior at the asymmetry's exact spot.
    import spark.implicits._
    val zeros = (0L until 6L).map(i => (i, Array.fill(3)(0.0f)))
      .toDF("vec_id", "embedding")
    for (threshold <- Seq(256, 0); iters <- Seq(1, 3)) {
      val rows = Clustering.pcaPowerTop(zeros, iters = iters,
        driverIterateMaxDims = threshold).collect()
      assert(rows.length == 3)
      for (r <- rows) {
        assert(r.isNullAt(1), s"loading (threshold=$threshold iters=$iters)")
        assert(r.isNullAt(2), s"eig_est (threshold=$threshold iters=$iters)")
      }
    }
  }
}
