package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.GraftFunctions

/** Deterministic sampling for training-data pipelines. Everything here is
  * a pure per-row filter/projection on a salted content hash — no shuffle,
  * no RNG state, and the SAME rows are selected on every run, every engine,
  * and every cluster size (unlike `df.sample`, whose output depends on
  * partitioning). That reproducibility is the property curation pipelines
  * actually need: a re-run of a 100 TB job must produce the identical
  * train set.
  */
object Sampling {

  /** Uniform bucket in [0, 10000) from the salted 63-bit hash of `id` —
    * the sampling/splitting primitive (basis-point granularity).
    */
  def hashBucket(id: Column, salt: String): Column =
    pmod(GraftFunctions.hash64(
      concat_ws("|", lit(salt), id.cast("string"))), lit(10000L))

  /** Stratified sample: per-stratum keep-rates (basis points of 10000),
    * e.g. keep 50% of "en" docs but 100% of low-resource languages —
    * the standard rebalancing step before training-mix assembly.
    */
  def stratified(df: DataFrame, strataCol: String, id: Column,
      rates: Map[String, Int], defaultRate: Int,
      salt: String = "strat"): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, v)) =>
      when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(hashBucket(id, salt) < rate)
  }

  /** Downsample every stratum to ≈`cap` rows: the per-stratum keep-rate is
    * derived from the stratum's own size (one tiny group-count broadcast
    * back onto the scan), so dominant strata shrink and small strata pass
    * through whole — the "cap the top languages / sources" data-mix step.
    * floor() before the long cast keeps the rate arithmetic identical
    * across engines (double→long casts truncate in Spark but round in
    * some engines).
    */
  def balanceToCap(df: DataFrame, strataCol: String, id: Column, cap: Int,
      salt: String = "balance"): DataFrame = {
    val counts = df.groupBy(strataCol)
      .agg(count(lit(1)).as("__n"))
      .withColumn("__keep_bp",
        least(lit(10000L), floor(lit(cap) * lit(10000.0) / col("__n"))
          .cast("long")))
    df.join(broadcast(counts), strataCol)
      .filter(hashBucket(id, salt) < col("__keep_bp"))
      .drop("__n", "__keep_bp")
  }

  /** Temperature-rebalanced (α = 0.5) keep thresholds per stratum: rates
    * ∝ sqrt(stratum share), sized so the expected kept total is half the
    * corpus — over-represented strata are down-sampled hardest and the
    * tail keeps (relatively) more, the multilingual data-mix trick. The
    * returned frame is (stratum, n, thr) with thr in basis points of
    * 10000, capped at 10000. All threshold arithmetic is integer after a
    * single correctly-rounded IEEE sqrt quantized to 1e-3, and runs in
    * DECIMAL(38,0): the int64 form `(ntot div 2) * w * 10000` wraps
    * silently at roughly ntot ≈ 1.5e8 rows (w ≈ 1000·sqrt(n)) while
    * DuckDB promotes to int128 — the decimal space keeps both engines
    * exact to ~1e24 rows per stratum. The quotient lands back in BIGINT.
    * Tiny output (one row per stratum) — broadcast it onto the corpus
    * scan.
    */
  def temperatureThresholds(df: DataFrame, strataCol: String): DataFrame = {
    val counts = df.groupBy(strataCol).agg(count(lit(1)).as("n"))
      .withColumn("w",
        floor(sqrt(col("n").cast("double")) * 1000).cast("long"))
    val tot = counts.agg(sum("n").as("ntot"), sum("w").as("sumw"))
    counts.crossJoin(broadcast(tot))
      .withColumn("thr", least(lit(10000L),
        expr("CAST((CAST((ntot div 2) AS DECIMAL(38,0)) * w * 10000)" +
          " div (CAST(sumw AS DECIMAL(38,0)) * n) AS BIGINT)")))
      .select(strataCol, "n", "thr")
  }

  /** Weight-proportional deterministic sampling: keep probability
    * w / max(w) (the heaviest row always kept), computed as integer
    * basis points so the decision is engine-exact. Weights are scaled to
    * fixed-point MICROS before the integer division — a plain
    * CAST(w AS BIGINT) truncates fractional weights in (0,1) to zero
    * (max 0 → null threshold → everything silently dropped) and erases
    * sub-integer weight differences. The micros space keeps exactness
    * for integral weights (numerator and denominator scale by the same
    * 1e6, so thresholds are bit-identical) and holds score-style double
    * weights to ~2^53/1e6 ≈ 9e9. Rows are kept only when max(w) is at
    * least one micro, guarding the divide. One tiny max agg broadcast
    * back onto the scan, then a per-row filter — the "importance-sample
    * by document length/score" curation step without RNG state.
    */
  def weighted(df: DataFrame, weightCol: String, id: Column,
      salt: String = "weighted"): DataFrame =
    df.crossJoin(broadcast(
        df.agg((max(col(weightCol)).cast("double") * 1000000d)
          .cast("long").as("__wmax"))))
      .filter(col("__wmax") >= 1L &&
        hashBucket(id, salt) < expr(
          s"(CAST(CAST($weightCol AS DOUBLE) * 1000000 AS BIGINT)" +
            " * 10000) div __wmax"))
      .drop("__wmax")

  /** Deterministic train/val/test split by hash range:
    * [0, train) / [train, train+val) / rest, in basis points.
    * A document's split NEVER changes as the corpus grows — the property
    * that keeps eval sets uncontaminated across dataset versions.
    */
  def split(df: DataFrame, id: Column, trainBp: Int, valBp: Int,
      salt: String = "split"): DataFrame = {
    val b = hashBucket(id, salt)
    df.withColumn("split",
      when(b < trainBp, "train")
        .when(b < trainBp + valBp, "val")
        .otherwise("test"))
  }

  /** DSIR-style target-affinity scoring (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): score
    * every raw document by how much its HASHED-unigram profile looks like
    * a target domain, then keep the top-k — the importance-resampling
    * step that turns "we want more docs like the target set" into a
    * deterministic selection.
    *
    * Fixed-point rational form (the classifier's rational-sigmoid
    * discipline — no float log on either engine): each token hashes into
    * one of `buckets` feature buckets (salted 63-bit MD5, the repo's
    * cross-engine hash); per-bucket ratio_ppm = (tgt+1)·1e6 div (raw+1)
    * (add-1 smoothed target/raw count ratio); a document's affinity_ppm
    * is the mean ratio over its tokens (sum div n_tokens). DSIR proper
    * scores log(p_tgt/p_raw) with totals-normalized multinomials: the
    * totals factor is a GLOBAL constant (drops out of any top-k/threshold
    * selection) and log is monotone, so this integral surrogate selects
    * by the same per-bucket evidence while staying bit-identical to the
    * SQL oracle. Long arithmetic is exact while bucket counts stay below
    * ~9·10¹² tokens; past that, widen to decimal — noted here because the
    * gate can't see it.
    *
    * Scale shape: token→bucket is map-side; the bucket table is
    * domain-bounded (`buckets` rows) and BROADCAST back onto the token
    * stream; the per-doc mean is one partial-agg shuffle ∝ docs; top-k is
    * a distributed TakeOrdered (k-row state per partition). The corpus
    * text never shuffles.
    */
  def dsirAffinity(docs: DataFrame, targetLang: String = "en",
      buckets: Int = 4096, topK: Int = 20): DataFrame = {
    val toks = TextOps.withTokens(docs)
      .select(col("doc_id"), col("lang"), explode(col("t")).as("w"))
      .withColumn("b", pmod(GraftFunctions.hash64(
        concat_ws("|", lit("dsir"), col("w"))), lit(buckets.toLong)))
    val stats = toks.groupBy("b").agg(
      count(lit(1)).as("raw_n"),
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("tgt_n"))
      .select(col("b"),
        expr("(tgt_n + 1) * 1000000L div (raw_n + 1)").as("ratio_ppm"))
    toks.join(broadcast(stats), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("ratio_ppm")).as("rsum"))
      .select(col("doc_id"), col("n_tokens"),
        expr("rsum div n_tokens").as("affinity_ppm"))
      .orderBy(col("affinity_ppm").desc, col("doc_id"))
      .limit(topK)
  }

  /** Per-group frequency cap — the domain-cap step of web-corpus curation
    * (no single domain/source may contribute more than `cap` documents):
    * within each group keep the `cap` docs with the SMALLEST salted
    * content-independent hash (a deterministic uniform draw, re-run
    * identical), report the census. The kept set is stable under corpus
    * growth ONLY in distribution (a new doc can displace a kept one) —
    * that is inherent to an exact cap; rate-based [[stratified]] is the
    * stable-membership alternative.
    *
    * Scale shape: the top-cap-per-key runs through the graft_top_k_by
    * TypedImperativeAggregate — per-key state is `cap` entries with
    * map-side partial combine, so a hot key costs bounded memory and the
    * shuffle carries pre-combined k-row sketches, never the group's rows
    * (the skew-proof form of `row_number over (partition by source)`).
    * The hash is folded to 1e12 (< 2^53) so the aggregate's DOUBLE value
    * slot holds it exactly.
    */
  def capPerGroup(docs: DataFrame, groupCol: String, cap: Int): DataFrame = {
    val hv = pmod(GraftFunctions.hash64(
      concat_ws("|", lit("cap"), col("doc_id").cast("string"))),
      lit(1000000000000L))
    docs.select(col(groupCol), col("doc_id"), (-hv).cast("double").as("nh"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        call_function("graft_top_k_by", col("nh"), col("doc_id"),
          lit(cap)).as("kept"))
      .select(col(groupCol), col("n_docs"),
        size(col("kept")).cast("long").as("n_kept"),
        aggregate(col("kept"), lit(0L), (acc, e) =>
          acc + e.getField("id")).as("kept_id_sum"))
      .orderBy(groupCol)
  }
}
