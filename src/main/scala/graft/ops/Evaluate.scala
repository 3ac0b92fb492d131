package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Offline ranking / classifier evaluation over scored tables — the metrics
  * a training-data pipeline runs after every quality-classifier or
  * retrieval-index refresh (extension surface, SURVEY §7.6; composes with
  * `curation_quality_classifier` and the ANN family).
  *
  * Numeric discipline: every cross-engine-compared value is either an exact
  * integer/half-integer sum (order-independent in IEEE double below 2^53) or
  * is rounded and decimal-summed before the final division, so the DuckDB
  * oracle can hash-match bit-for-bit.
  */
object Evaluate {

  /** ROC AUC via the rank-sum (Mann-Whitney U) identity, computed in its
    * SCALABLE form: never a per-row global sort, and no single-partition
    * window at ANY score cardinality. Rows collapse to one row per
    * distinct score (map-side combinable groupBy); the cumulative
    * negatives-below walk over the distinct-score axis is the native
    * GlobalRank running sum (one range exchange + a shuffle-read sum
    * pass). `score` is unique per row after the groupBy, so its ROWS
    * frame is already a total order, and nn_below = nn_run − nn:
    *
    *   AUC = Σ_s np_s · (nn_below(s) + nn_s / 2) / (npos · nneg)
    *
    * which is the tie-corrected rank-sum. This holds as an OPERATOR
    * property: a truly continuous score (distinct scores ∝ N) costs one
    * extra range shuffle of the collapsed frame, never a driver-sized
    * sort.
    *
    * Exactness: null scores/labels are dropped up front (Spark and SQL
    * engines order NULLs differently — they must never reach the rank
    * walk); np/nn/nn_below are exact LONGs, and the U statistic is summed
    * doubled (2·nn_below + nn keeps it integral) in DECIMAL(38,0), so the
    * sum is order-independent at any scale — not just below 2^53; the
    * only floating steps are the final halving and 6-dp division,
    * sequenced identically in the oracle.
    */
  def aucByScore(scored: DataFrame, scoreCol: String,
                 labelCol: String): DataFrame = {
    val perS = scored
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .groupBy(col(scoreCol).as("score"))
      .agg(sum(col(labelCol)).cast("long").as("np"),
        (count(lit(1)) - sum(col(labelCol))).cast("long").as("nn"))
    val cum = graft.plans.GlobalRank.withRunningSum(perS, "nn_run", "nn",
        ("score", true))
      .withColumn("nn_below", col("nn_run") - col("nn"))
    cum.agg(
        sum(col("np").cast("decimal(38,0)") *
          (col("nn_below") * 2 + col("nn"))).as("usum2"),
        sum(col("np")).as("npos"), sum(col("nn")).as("nneg"))
      .select(col("npos").cast("long").as("n_pos"),
        col("nneg").cast("long").as("n_neg"),
        round((col("usum2").cast("double") / 2) /
          (col("npos").cast("double") * col("nneg")), 6).as("auc"))
  }

  /** Integer-scaled DCG discounts: round(1e9 / log2(r+1)) for r = 1..10.
    * Scaling the discount to an exact BIGINT makes each user's DCG an exact
    * integer sum — order-independent across engines — instead of a float
    * sum whose grouping order differs between Spark and the oracle.
    */
  val NdcgDiscounts: Array[Long] = Array(1000000000L, 630929754L, 500000000L,
    430676558L, 386852807L, 356207187L, 333333333L, 315464877L, 301029996L,
    289064826L)

  /** Mean NDCG@10 across groups: `rel` is graded relevance (int), the
    * predicted ranking orders by `scoreCol` desc (ties broken by `idCol`
    * so both engines pick the same top-10), the ideal ranking by `rel`
    * desc. Both rankings are per-group windows — embarrassingly parallel
    * across groups, state bounded by the group's row count. Per-group
    * NDCG = exact-integer DCG / exact-integer IDCG, rounded to 9 dp and
    * decimal-summed so the cross-group mean is order-independent.
    */
  def meanNdcgAt10(df: DataFrame, groupCol: String, idCol: String,
                   scoreCol: String, relCol: String): DataFrame = {
    val wPred = Window.partitionBy(groupCol)
      .orderBy(col(scoreCol).desc, col(idCol))
    val wIdeal = Window.partitionBy(groupCol)
      .orderBy(col(relCol).desc, col(idCol))
    def dcg(w: org.apache.spark.sql.expressions.WindowSpec): DataFrame = df
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= 10)
      .withColumn("d", element_at(lit(NdcgDiscounts), col("r")))
      .groupBy(col(groupCol)).agg(sum(col(relCol) * col("d")).as("s"))
    val perU = dcg(wPred).as("p")
      .join(dcg(wIdeal).as("i"), groupCol)
      .filter(col("i.s") > 0)
      .select(round(col("p.s").cast("double") / col("i.s"), 9).as("ndcg"))
    perU.agg(count(lit(1)).as("n_users"),
      round(sum(col("ndcg").cast("decimal(18,9)")).cast("double") /
        count(lit(1)), 6).as("mean_ndcg"))
  }

  /** K-fold out-of-fold smoothed target encoding — the leakage-safe
    * categorical encoder (each row's category statistic excludes its own
    * fold, so the encoded feature never sees the row's own target):
    *
    *   enc(cat, fold) = (sum(cat) − sum(cat, fold) + α·prior)
    *                  / (cnt(cat) − cnt(cat, fold) + α)
    *
    * Three decimal-exact aggregations (global, per-category, per-fold) and
    * a closed-form combine — two map-side-combinable shuffles, no per-row
    * second pass: the per-(cat, fold) frame IS the encoder table, broadcast
    * back onto the fact at apply time. Sums go through DECIMAL so the
    * engine and oracle see the identical double after the cast.
    */
  def targetEncode(df: DataFrame, catCol: String, foldCol: Column,
                   targetCol: String, alpha: Double = 10.0): DataFrame = {
    val decSum = sum(col(targetCol).cast("decimal(20,6)")).cast("double")
    val base = df.select(col(catCol).as("segment"), foldCol.as("fold"),
      col(targetCol))
    val g = base.agg(decSum.as("gs"), count(lit(1)).cast("double").as("gn"))
    val cs = base.groupBy("segment")
      .agg(decSum.as("csum"), count(lit(1)).cast("double").as("cn"))
    val fs = base.groupBy("segment", "fold")
      .agg(decSum.as("fsum"), count(lit(1)).as("fcnt"))
    fs.join(cs, "segment").crossJoin(broadcast(g))
      .select(col("segment"), col("fold").cast("long").as("fold"),
        col("fcnt").cast("long").as("n_rows"),
        round((col("csum") - col("fsum") +
            lit(alpha) * (col("gs") / col("gn"))) /
          (col("cn") - col("fcnt") + lit(alpha)), 6).as("enc"))
      .orderBy("segment", "fold")
  }

  /** Average precision (the area under the precision-recall curve in its
    * rank-sum form): AP = (1/P) · Σ_{positives} precision@rank, where
    * rank runs over the TOTAL order (score desc, id asc) — the
    * deterministic-tie definition, since AP under ties is otherwise
    * ambiguous. The complement of [[aucByScore]]: ROC-AUC is blind to
    * class skew, AP is the metric for rare-positive curation filters.
    *
    * Plan shape: two global ranks — every scored row's rank k, then each
    * positive's index p among positives — both through the NATIVE
    * distributed row_number operator ([[graft.plans.GlobalRank]]: range
    * exchange + shuffle-read count pass; no single-partition window at
    * any N). Each positive contributes the exact integral term
    * (p·1e6) div k; the sum div P is the fixed-point AP the oracle
    * mirrors term-for-term.
    */
  def averagePrecision(scored: DataFrame, scoreCol: String,
      labelCol: String, idCol: String): DataFrame = {
    val base = scored
      .filter(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .select(col(idCol).as("id"), col(scoreCol).as("score"),
        col(labelCol).cast("long").as("label"))
    val ranked = graft.plans.GlobalRank.withRowNumber(
      base, "k", ("score", false), ("id", true))
    val pos = graft.plans.GlobalRank.withRowNumber(
      ranked.filter(col("label") === 1L).select("id", "score", "k"),
      "p", ("score", false), ("id", true))
    val tot = base.agg(count(lit(1)).as("n_scored"))
    pos.agg(count(lit(1)).as("n_pos"),
        sum(expr("p * 1000000L div k")).as("tsum"))
      .crossJoin(broadcast(tot))
      .select(col("n_pos"), col("n_scored"),
        expr("tsum div n_pos").as("ap_ppm"))
  }

  /** Confusion cells for a (predicted, actual) label pair — the exact
    * contingency census every agreement metric reads. Domain-bounded
    * (|labels|² rows), one map-side-combinable aggregate over the scored
    * frame; at 100 TB this is the ONLY pass the data pays, everything
    * downstream is metadata-scale.
    */
  def confusionCells(scored: DataFrame, predCol: String,
      actualCol: String): DataFrame =
    scored.groupBy(col(predCol).as("predicted"),
        col(actualCol).as("actual"))
      .agg(count(lit(1)).as("n"))

  /** Cohen's kappa — inter-rater agreement corrected for chance:
    * κ = (p_o − p_e) / (1 − p_e) with p_o = agree/T and
    * p_e = Σ_k row_k·col_k / T². Computed over [[confusionCells]], so
    * every aggregate after the one corpus pass is |labels|-bounded.
    * The three ratios are exact BIGINT products cast to double for ONE
    * division each, 6-dp-rounded (the cross-engine float discipline);
    * T·agree and T² stay inside a LONG below ~3·10⁹ scored rows — past
    * that, widen the products to decimal (noted because the gate can't
    * see it).
    */
  /** Per-class precision/recall/F1 from the confusion census — the
    * multiclass report card next to [[cohenKappa]]'s single agreement
    * number. Everything after the one corpus pass is |labels|-bounded;
    * exact BIGINT counts, one 6-dp division per ratio. F1 uses the
    * p/r-free form 2·tp/(n_pred + n_act), whose denominator is positive
    * for every label that appears at all; a label never predicted (or
    * never true) reports NULL precision (recall) rather than a fake 0.
    */
  def f1PerClass(scored: DataFrame, predCol: String,
      actualCol: String): DataFrame = {
    val cells = confusionCells(scored, predCol, actualCol)
      .localCheckpoint()
    val rm = cells.groupBy(col("predicted").as("label"))
      .agg(sum(col("n")).as("n_pred"))
    val cm = cells.groupBy(col("actual").as("label"))
      .agg(sum(col("n")).as("n_act"))
    val tp = cells.filter(col("predicted") === col("actual"))
      .select(col("predicted").as("label"), col("n").as("tp0"))
    rm.join(cm, Seq("label"), "full")
      .join(tp, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("n_act"), lit(0L)).as("n_act"),
        coalesce(col("tp0"), lit(0L)).as("tp"))
      .select(col("label"), col("n_pred"), col("n_act"), col("tp"),
        when(col("n_pred") > 0,
          round(col("tp").cast("double") / col("n_pred"), 6))
          .as("precision"),
        when(col("n_act") > 0,
          round(col("tp").cast("double") / col("n_act"), 6))
          .as("recall"),
        round(lit(2.0) * col("tp") / (col("n_pred") + col("n_act")), 6)
          .as("f1"))
      .orderBy("label")
  }

  /** Binary Matthews correlation coefficient for the one-vs-rest task
    * `<col> == positive` — the single balanced-quality number that stays
    * honest under class skew (unlike accuracy). One combinable corpus
    * pass to the four cells; MCC = (tp·tn − fp·fn) / √(tp+fp)√(tp+fn)
    * √(tn+fp)√(tn+fn) with exact LONG cells, each factor √'d separately
    * (every factor ≤ n, exact in a double, IEEE sqrt — cross-engine
    * identical) and the all-standard MCC=0 convention when any marginal
    * is empty.
    */
  def mccBinary(scored: DataFrame, predCol: String, actualCol: String,
      positive: String): DataFrame = {
    val b = scored.select(
      (col(predCol) === positive).cast("long").as("p"),
      (col(actualCol) === positive).cast("long").as("a"))
    val cells = b.agg(
      sum(col("p") * col("a")).as("tp"),
      sum(col("p") * (lit(1L) - col("a"))).as("fp"),
      sum((lit(1L) - col("p")) * col("a")).as("fn"),
      sum((lit(1L) - col("p")) * (lit(1L) - col("a"))).as("tn"))
    val denom = sqrt((col("tp") + col("fp")).cast("double")) *
      sqrt((col("tp") + col("fn")).cast("double")) *
      sqrt((col("tn") + col("fp")).cast("double")) *
      sqrt((col("tn") + col("fn")).cast("double"))
    cells.select(col("tp"), col("fp"), col("fn"), col("tn"),
      when(denom > 0.0,
        round((col("tp") * col("tn") - col("fp") * col("fn"))
          .cast("double") / denom, 6))
        .otherwise(lit(0.0)).as("mcc"))
  }

  def cohenKappa(scored: DataFrame, predCol: String,
      actualCol: String): DataFrame = {
    val cells = confusionCells(scored, predCol, actualCol)
      .localCheckpoint() // |labels|² rows feed three tiny aggregates
    val tot = cells.agg(sum(col("n")).as("t"),
      sum(when(col("predicted") === col("actual"), col("n"))
        .otherwise(0L)).as("agree"))
    val rm = cells.groupBy(col("predicted").as("k"))
      .agg(sum(col("n")).as("r"))
    val cm = cells.groupBy(col("actual").as("k"))
      .agg(sum(col("n")).as("c"))
    val pe = rm.join(cm, "k")
      .agg(coalesce(sum(col("r") * col("c")), lit(0L)).as("pen"))
    tot.crossJoin(broadcast(pe))
      .select(col("t").as("n_docs"), col("agree").as("n_agree"),
        round(col("agree").cast("double") / col("t"), 6).as("po"),
        round(col("pen").cast("double") /
          (col("t").cast("double") * col("t")), 6).as("pe"),
        round((col("t") * col("agree") - col("pen")).cast("double") /
          (col("t") * col("t") - col("pen")).cast("double"), 6).as("kappa"))
  }
}
