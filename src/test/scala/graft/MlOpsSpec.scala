package graft

import org.apache.spark.sql.functions._

import graft.ops.{Evaluate, Forecast}

/** Hand-computed invariants for the round-10 eval/forecast/encoding
  * operators. The oracle gate pins exact values on the real tables; these
  * pin the SEMANTICS on tiny frames where the right answer is derivable
  * by hand.
  */
class MlOpsSpec extends SparkSpec {

  test("aucByScore: perfect separation gives 1, reversed gives 0") {
    import spark.implicits._
    val perfect = Seq((0.9, 1), (0.8, 1), (0.2, 0), (0.1, 0))
      .toDF("score", "label")
    val r = Evaluate.aucByScore(perfect, "score", "label").head
    assert(r.getLong(0) == 2 && r.getLong(1) == 2)
    assert(r.getDouble(2) == 1.0)
    val reversed = Seq((0.9, 0), (0.8, 0), (0.2, 1), (0.1, 1))
      .toDF("score", "label")
    assert(Evaluate.aucByScore(reversed, "score", "label")
      .head.getDouble(2) == 0.0)
  }

  test("aucByScore: all-tied scores give 0.5 (tie correction)") {
    import spark.implicits._
    val tied = Seq((0.5, 1), (0.5, 0), (0.5, 1), (0.5, 0))
      .toDF("score", "label")
    assert(Evaluate.aucByScore(tied, "score", "label")
      .head.getDouble(2) == 0.5)
  }

  test("aucByScore: null scores/labels are dropped, not NULL-ordered") {
    import spark.implicits._
    val withNulls = Seq((Some(0.9), Some(1)), (None, Some(0)),
      (Some(0.8), None), (Some(0.2), Some(0)), (Some(0.1), Some(0)))
      .toDF("score", "label")
    val r = Evaluate.aucByScore(withNulls, "score", "label").head
    assert(r.getLong(0) == 1 && r.getLong(1) == 2) // null rows gone
    assert(r.getDouble(2) == 1.0)
  }

  test("aucByScore: high-cardinality continuous score — exact, and no " +
    "unbounded single-partition window in the plan") {
    import spark.implicits._
    // 20k DISTINCT scores (distinct-scores ∝ N, the shape that made the
    // old single-partition window a property of the data, round-10
    // verdict item 3); label correlates with score with deterministic
    // noise, AUC checked against the brute-force pair count
    val rows = (0 until 20000).map { i =>
      val score = i * 0.001 + (i % 7) * 1e-9 // all distinct
      val label = if ((i * 2654435761L % 100) < (i / 200)) 1 else 0
      (score, label)
    }
    val df = rows.toDF("score", "label").repartition(8)
    val r = Evaluate.aucByScore(df, "score", "label").head
    val pos = rows.filter(_._2 == 1).map(_._1)
    val neg = rows.filter(_._2 == 0).map(_._1).sorted.toArray
    def below(x: Double): Int = {
      var lo = 0; var hi = neg.length
      while (lo < hi) { val m = (lo + hi) / 2
        if (neg(m) < x) lo = m + 1 else hi = m }
      lo
    }
    val u = pos.map(p => below(p).toDouble).sum // distinct scores: no ties
    val want = BigDecimal(u / (pos.size.toDouble * neg.length))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getLong(0) == pos.size && r.getLong(1) == neg.length)
    assert(r.getDouble(2) == want)
    // plan shape: no global (empty-partition-spec) window at all — the
    // negatives-below walk is exactly one native prefix-sum operator
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    import graft.plans.GlobalPrefixSumPlan
    val plan = Evaluate.aucByScore(df, "score", "label")
      .queryExecution.optimizedPlan
    val globalWindows = plan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty,
      s"unexpected global window:\n${globalWindows.mkString("\n")}")
    assert(plan.collect { case p: GlobalPrefixSumPlan => p }.size == 1,
      s"expected exactly one GlobalPrefixSumPlan:\n$plan")
  }

  test("aucByScore: an empty scored frame gives one all-NULL row") {
    import spark.implicits._
    val empty = Seq.empty[(Double, Int)].toDF("score", "label")
    val rows = Evaluate.aucByScore(empty, "score", "label").collect()
    assert(rows.length == 1)
    assert((0 until 3).forall(rows.head.isNullAt))
  }

  test("periodStrength: a constant series yields NULL strength, not NaN") {
    import spark.implicits._
    val daily = (0 until 12).map(d => (d.toLong, 5L)).toDF("d", "y")
    val out = Forecast.periodStrength(daily, "d", "y", maxPeriod = 4)
      .collect()
    assert(out.nonEmpty && out.forall(_.isNullAt(1)))
  }

  test("meanNdcgAt10: ideal ordering gives NDCG 1") {
    import spark.implicits._
    // predicted order (by score desc) == ideal order (by rel desc)
    val df = Seq((1L, 1L, 0.9, 3), (1L, 2L, 0.8, 2), (1L, 3L, 0.7, 1))
      .toDF("user_id", "event_id", "value", "rel")
    val r = Evaluate.meanNdcgAt10(df, "user_id", "event_id", "value", "rel")
      .head
    assert(r.getLong(0) == 1)
    assert(r.getDouble(1) == 1.0)
  }

  test("meanNdcgAt10: worst ordering of 0/3 rel pair") {
    import spark.implicits._
    // rel-3 item ranked 2nd: dcg = 3*D2, idcg = 3*D1 -> ndcg = D2/D1
    val df = Seq((1L, 1L, 0.9, 0), (1L, 2L, 0.8, 3))
      .toDF("user_id", "event_id", "value", "rel")
    val want = BigDecimal(3.0 * Evaluate.NdcgDiscounts(1) /
      (3.0 * Evaluate.NdcgDiscounts(0)))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Evaluate
      .meanNdcgAt10(df, "user_id", "event_id", "value", "rel")
      .head.getDouble(1)
    assert(got == want)
  }

  test("targetEncode: out-of-fold stats exclude the row's own fold") {
    import spark.implicits._
    // cat A: fold 0 has y=10 (1 row), fold 1 has y=20,30 (2 rows)
    val df = Seq(("A", 0L, 10.0), ("A", 1L, 20.0), ("A", 1L, 30.0))
      .toDF("cat", "f", "y")
    val out = Evaluate.targetEncode(df, "cat", col("f"), "y", alpha = 0.0)
      .collect().map(r => (r.getLong(1), r.getDouble(3))).toMap
    // fold 0 encoder sees folds != 0: mean(20, 30) = 25
    assert(out(0L) == 25.0)
    // fold 1 encoder sees fold 0 only: mean(10) = 10
    assert(out(1L) == 10.0)
  }

  test("targetEncode: alpha pulls a thin fold toward the global prior") {
    import spark.implicits._
    val df = Seq(("A", 0L, 0.0), ("A", 1L, 100.0)).toDF("cat", "f", "y")
    // fold 0: oof sum=100 cnt=1, prior=50, alpha=2 ->
    //   (100 + 2*50) / (1 + 2) = 66.666667
    val out = Evaluate.targetEncode(df, "cat", col("f"), "y", alpha = 2.0)
      .collect().map(r => (r.getLong(1), r.getDouble(3))).toMap
    assert(out(0L) == 66.666667)
  }

  test("holtForecast: a perfectly linear series forecasts the line") {
    import spark.implicits._
    // y_t = 10 + 5t: level/trend lock onto the line, every forecast
    // continues it exactly (alpha/beta cancel on a zero-error series)
    val daily = (1 to 8).map(t => ("s", t, 10.0 + 5 * t))
      .toDF("series", "day", "y")
    val out = Forecast.holtForecast(daily, "series", "day", "y", horizon = 3)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) == 10.0 + 5 * 9)
    assert(out(3L) == 10.0 + 5 * 11)
  }

  test("holtForecast: constant series forecasts the constant") {
    import spark.implicits._
    val daily = (1 to 6).map(t => ("s", t, 42.0)).toDF("series", "day", "y")
    val out = Forecast.holtForecast(daily, "series", "day", "y", horizon = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) == 42.0 && out(2L) == 42.0)
  }

  test("holtWinters: a pure period-7 series forecasts the exact pattern") {
    import spark.implicits._
    // binary-exact seasonal offsets summing to 0: every smoothing step is
    // exact, so the forecast reproduces 100 + s[(t-1) mod 7] bit-for-bit
    val s = Seq(0.0, 16.0, -8.0, 4.0, -4.0, 8.0, -16.0)
    val daily = (1 to 21).map(t => ("a", t, 100.0 + s((t - 1) % 7)))
      .toDF("series", "day", "y")
    val out = Forecast.holtWinters(daily, "series", "day", "y")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(out.size === 7)
    for (h <- 1 to 7)
      assert(out(h.toLong) === 100.0 + s((21 + h - 1) % 7),
        s"h=$h got ${out(h.toLong)}")
  }

  test("holtWinters: series shorter than two cycles are dropped") {
    import spark.implicits._
    val daily = (1 to 13).map(t => ("short", t, 1.0 * t))
      .toDF("series", "day", "y")
    assert(Forecast.holtWinters(daily, "series", "day", "y").count() === 0L)
  }

  test("periodStrength: an exact period-3 series maximizes at p=3") {
    import spark.implicits._
    // 12 days of [10, 20, 90] repeated: all variance is between phases
    // at p=3 (strength 1), and p=6/p=9/p=12 also explain it (multiples);
    // p=2 explains ~none
    val daily = (0 until 12).map(d => (d.toLong, Seq(10L, 20L, 90L)(d % 3)))
      .toDF("d", "y")
    val out = Forecast.periodStrength(daily, "d", "y", maxPeriod = 6)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out(3L) == 1.0)
    assert(out(6L) == 1.0)
    assert(out(2L) < 0.1)
  }

  test("connected components census: sizes sum to the node count") {
    val out = SparkEntry.queries("graph_connected_components")(spark, sf)
      .agg(sum(col("n_nodes")), sum(col("n_components")))
      .head
    // every sparsified edge endpoint lands in exactly one component
    assert(out.getLong(0) >= out.getLong(1) * 2,
      "every component has >= 2 nodes (edges define membership)")
  }

  test("pii scrub: every class detects at least one injected match") {
    val rows = SparkEntry.queries("curation_pii_scrub")(spark, sf)
      .collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(r.getLong(1) > 0, s"${r.getString(0)} found no docs")
      assert(r.getLong(3) > 0, s"${r.getString(0)} redacted no chars")
    }
  }

  test("feature hash: weights are bounded by token counts") {
    val bad = SparkEntry.queries("fn_feature_hash")(spark, sf)
      .filter(abs(col("w")) > col("n_tokens")).count()
    assert(bad == 0)
  }

  test("benford: 9 digit rows, counts conserve, chi2 non-negative") {
    val rows = SparkEntry.queries("profile_benford")(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSet.subsetOf((1L to 9L).toSet))
    rows.foreach(r => assert(r.getDouble(3) >= 0.0))
    val total = rows.map(_.getLong(1)).sum
    val orders = graft.core.Tables.read(spark, sf, "orders").count()
    assert(total == orders)
  }

  test("rfm: quintile buckets balance within one user per axis") {
    val out = SparkEntry.queries("events_rfm")(spark, sf)
    val perR = out.groupBy("r_q").agg(sum("n_users").as("n"))
      .collect().map(_.getLong(1))
    assert(perR.max - perR.min <= 1, s"unbalanced r quintiles: ${perR.toSeq}")
  }

  test("trigram paths: shape and count bounds") {
    val rows = SparkEntry.queries("events_trigram_paths")(spark, sf)
      .collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach(r => assert(r.getString(0).split(">").length == 3))
    // descending count order
    val ns = rows.map(_.getLong(1))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
  }

  test("rrf fusion: scores bounded by the two-list identity") {
    val rows = SparkEntry.queries("ann_rrf_fusion")(spark, sf).collect()
    rows.foreach { r =>
      val (ra, rb, s) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(s <= 2.0 / 61 + 1e-9)
      val want = BigDecimal(1.0 / (60 + ra) + 1.0 / (60 + rb))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(s == want, s"rrf($ra,$rb)=$s want $want")
    }
  }

  test("holtBacktest: zero error on a perfectly linear series") {
    import spark.implicits._
    // the fold locks onto y = 10 + 5t immediately, so every one-step
    // forecast is exact: mae = bias = 0 over the evaluated tail
    val daily = (1 to 12).map(t => ("s", t, 10.0 + 5 * t))
      .toDF("series", "day", "y")
    val r = Forecast.holtBacktest(daily, "series", "day", "y").head
    assert(r.getLong(1) == 7)
    assert(r.getDouble(2) == 0.0 && r.getDouble(3) == 0.0)
  }

  test("holtBacktest: constant overshoot gives signed bias") {
    import spark.implicits._
    // series jumps once then stays flat: late-window forecasts converge,
    // so |bias| <= mae always, and both are finite
    val ys = Seq(10.0, 10.0, 10.0, 50.0) ++ Seq.fill(8)(50.0)
    val daily = ys.zipWithIndex.map { case (y, t) => ("s", t, y) }
      .toDF("series", "day", "y")
    val r = Forecast.holtBacktest(daily, "series", "day", "y").head
    assert(math.abs(r.getDouble(3)) <= r.getDouble(2) + 1e-9)
  }

  test("balanced sampling: every label keeps exactly the min count") {
    val rows = SparkEntry.queries("sample_balanced_class")(spark, sf)
      .collect()
    val kept = rows.map(_.getLong(2)).toSet
    assert(kept.size == 1, s"unequal kept counts: $kept")
    assert(kept.head == rows.map(_.getLong(1)).min)
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1)))
  }

  test("psi: every contribution is non-negative ((p-q) and ln(p/q) " +
    "share sign)") {
    val rows = SparkEntry.queries("profile_psi")(spark, sf).collect()
    assert(rows.length == 10)
    rows.foreach(r => assert(r.getDouble(3) >= 0.0,
      s"negative psi term at bin ${r.getLong(0)}"))
  }

  test("group holdout: no user straddles the split") {
    val rows = SparkEntry.queries("sample_group_holdout")(spark, sf)
      .collect()
    val ev = graft.core.Tables.read(spark, sf, "events")
    // if any user appeared in both splits, per-split distinct-user counts
    // would sum to MORE than the global distinct count
    val totalUsers = ev.select("user_id").distinct().count()
    assert(rows.map(_.getLong(1)).sum == totalUsers)
    assert(rows.map(_.getLong(2)).sum == ev.count())
  }

  test("spatial grid join: bucket sums are consistent with bucket bounds") {
    val rows = SparkEntry.queries("join_spatial_grid")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (b, n, s2) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(b >= 0 && b <= 5, s"bucket $b outside radius² range")
      val lo = 125 * b
      val hi = math.min(125 * (b + 1) - 1, 625)
      assert(s2 >= n * lo && s2 <= n * hi,
        s"bucket $b: sum_d2 $s2 inconsistent with $n pairs in [$lo,$hi]")
    }
  }

  test("decay engagement: bounded by the undecayed 256x total") {
    import spark.implicits._
    val out = SparkEntry.queries("agg_decay_engagement")(spark, sf)
      .as[(Long, Long)].collect().toMap
    val totals = graft.core.Tables.read(spark, sf, "events")
      .groupBy("user_id")
      .agg((sum(col("value").cast("decimal(18,6)")) * 1000000)
        .cast("long").as("vm"))
      .as[(Long, Long)].collect().toMap
    out.foreach { case (u, d) =>
      assert(d > 0 && d <= 256L * totals(u),
        s"user $u decayed $d vs cap ${256L * totals(u)}")
    }
  }

  test("streak histogram: user counts conserve; islands bound active days") {
    val rows = SparkEntry.queries("window_streaks")(spark, sf).collect()
    val users = graft.core.Tables.read(spark, sf, "events")
      .select("user_id").distinct().count()
    assert(rows.map(_.getLong(1)).sum == users)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1), "fewer islands than users")
      assert(r.getLong(3) >= r.getLong(2), "fewer active days than islands")
      // a bucket's longest streak cannot exceed its users' active days
      assert(r.getLong(0) * r.getLong(1) <= r.getLong(3))
    }
  }

  test("triplet mining: picks the hardest positive and negative") {
    import spark.implicits._
    // anchor 0 (label 0): positives 1 (identical, cos 1) and 2
    // (orthogonal-ish, cos 0) -> hardest positive is 2; negatives 3
    // (cos ~1 impostor) and 4 (cos -1) -> hardest negative is 3, and the
    // margin is violated (neg 1.0 + 0.1 > pos 0.0)
    val emb = Seq(
      (0L, 0, Array(1f, 0f)), (1L, 0, Array(2f, 0f)),
      (2L, 0, Array(0f, 1f)), (3L, 1, Array(3f, 0f)),
      (4L, 1, Array(-1f, 0f))).toDF("vec_id", "label", "embedding")
    val r = graft.ops.Similarity.tripletMining(emb, nAnchors = 1)
      .head
    assert(r.getLong(1) == 2L && r.getDouble(2) == 0.0)
    assert(r.getLong(3) == 3L && r.getDouble(4) == 1.0)
    assert(r.getBoolean(5))
  }
}
