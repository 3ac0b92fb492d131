package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.TextOps._

/** Distributed document-quality classifier: logistic-style regression
  * trained by full-batch gradient descent over cheap text features — the
  * standard "bootstrap a quality model from a rule, then replace the rule"
  * curation step (labels come from a deterministic heuristic; the trained
  * model generalizes it to a continuous score).
  *
  * Every quantity is FIXED-POINT INTEGER (ppm scale), including the link
  * function: instead of exp-based sigmoid (whose libm ulps differ across
  * engines) the model uses the algebraic fast sigmoid
  * `p = 1/2 + m / (2(1+|m|))` — one integer multiply + one truncating
  * division, bit-identical in Spark (`div`) and DuckDB (`//`). Gradient
  * sums accumulate in DECIMAL(38,0) (exact, order-independent; a long sum
  * would wrap at ~1e9 rows × 5e11/row), then one truncating div by N and
  * the learning-rate scale. The whole train is therefore bit-reproducible
  * across engines AND across partitionings.
  *
  * Scale shape per iteration: ONE corpus-sized pass — margin + error are
  * per-row expressions against the broadcast 1-row weight frame, and the
  * gradient is a single global aggregate (map-side partials, d+1 columns of
  * shuffle). Weights never exceed one row; iteration count never touches
  * anything but that row between passes. The feature build is one map-side
  * projection, localCheckpoint'd so k iterations don't re-tokenize.
  */
object Classifier {

  /** ppm fixed-point scale. */
  private val S = 1000000L

  /** Weak-supervision label threshold (ppm): y = 1 when the linear blend
    * `5·stopword_ratio + alpha_ratio` (the existing quality_score shape,
    * integer form) clears 0.97 — splits the documents corpus ~50/50 and
    * is linearly representable, so GD measurably learns it. Shared with
    * the oracle builder so the two sides can't drift.
    */
  val BlendThrPpm = 970000L

  /** Integer text features: raw ppm ratios (stopword ratio, alpha ratio,
    * avg-token-length capped at 10 chars, length capped at 2000 chars)
    * min/max-normalized to [-1e6, 1e6] with one exact integer aggregate —
    * raw ratios cluster far from any fixed center (stopword ratios sit
    * near 3%), so without per-corpus normalization every feature is a
    * near-constant collinear with the bias and GD stalls. All divisions
    * truncating-integral; the normalization agg is one metadata-sized
    * broadcast.
    */
  private[graft] def features(docs: DataFrame): DataFrame = {
    val t = col("t")
    val raw = withTokens(docs)
      .withColumn("n_chars_", greatest(length(col("text")).cast("long"), lit(1L)))
      .withColumn("n_tokens", greatest(size(t).cast("long"), lit(1L)))
      .withColumn("sum_tok_len",
        aggregate(t, lit(0), (acc, x) => acc + length(x)).cast("long"))
      .withColumn("stop_hits", stopHits(t, StopEn).cast("long"))
      .withColumn("n_alpha",
        length(regexp_replace(lower(col("text")), "[^a-z]", "")).cast("long"))
      .select(
        col("doc_id"),
        expr(s"(stop_hits * $S) div n_tokens").as("r1"),
        expr(s"(n_alpha * $S) div n_chars_").as("r2"),
        expr(s"(least(sum_tok_len div n_tokens, 10) * $S) div 10").as("r3"),
        expr(s"(least(n_chars_, 2000) * $S) div 2000").as("r4"),
        when(expr(s"5 * ((stop_hits * $S) div n_tokens) + " +
          s"(n_alpha * $S) div n_chars_") >= lit(BlendThrPpm), lit(1L))
          .otherwise(lit(0L)).as("y"))
    val rngCols = (1 to 4).flatMap(j =>
      Seq(min(col(s"r$j")).as(s"mn$j"), max(col(s"r$j")).as(s"mx$j")))
    val rng = raw.agg(rngCols.head, rngCols.tail: _*)
    raw.crossJoin(broadcast(rng))
      .select(col("doc_id") +: col("y") +:
        (1 to 4).map(j =>
          expr(s"((r$j - mn$j) * ${2 * S}) div (mx$j - mn$j + 1) - $S")
            .as(s"x$j")): _*)
  }

  /** fast sigmoid in ppm: 5e5 + m*5e5 div (1e6 + |m|) — integer multiply
    * + truncating `div` only (a double `/` here could flip a boundary
    * value vs the oracle's integer `//`).
    */
  private def probPpm: Column =
    expr(s"${S / 2} + (m * ${S / 2}) div ($S + abs(m))")

  /** Train `iters` full-batch GD steps (learning rate = `lrPpm`/1e6) and
    * score every document: (doc_id, y, score_ppm, pred). Deterministic,
    * engine-exact; see the object doc for the arithmetic contract.
    */
  /** margin (ppm) of one row against DRIVER weights injected as BIGINT
    * literals — numerically identical to the old broadcast-column form
    * (same long arithmetic, same truncating `div`).
    */
  private def marginOf(w: Array[Long]): Column =
    expr(s"(CAST(${w(0)} AS BIGINT) * $S" +
      (1 to 4).map(j => s" + CAST(${w(j)} AS BIGINT) * x$j").mkString +
      s") div $S")

  def trainAndScore(docs: DataFrame, iters: Int = 8,
      lrPpm: Long = 3000000L): DataFrame = {
    require(iters >= 1, s"trainAndScore needs at least one iteration: $iters")
    val fx = features(docs).localCheckpoint()

    // Weights are a DRIVER-BOUNDED artifact — five longs — iterated in
    // exact BigInteger arithmetic that mirrors the engine expressions
    // step for step (BigInteger.divide truncates toward zero exactly
    // like Spark's IntegralDivide on integral decimals; the lr multiply
    // is unbounded, subsuming the old DECIMAL(38,0) widening). Same
    // bounded-artifact class as the PCA power loop and the BPE merge
    // table. Before: each iteration paid a 1-row checkpoint job plus two
    // broadcast builds around the gradient pass (39 jobs/query, ~1.2 s
    // of driver gaps at sf0.1); now it pays exactly ONE action — the
    // gradient collect. Per-iteration data-volume work (one corpus pass,
    // map-side partial agg) is unchanged.
    val w = Array.fill(5)(0L)
    for (_ <- 1 to iters) {
      val withP = fx
        .withColumn("m", marginOf(w))
        .withColumn("p", probPpm)
        .withColumn("e", col("y") * lit(S) - col("p"))
      // exact decimal gradient sums; one global agg, map-side partials
      val g = withP.agg(
        sum(col("e").cast("decimal(38,0)")).as("g0"),
        sum((col("e") * col("x1")).cast("decimal(38,0)")).as("g1"),
        sum((col("e") * col("x2")).cast("decimal(38,0)")).as("g2"),
        sum((col("e") * col("x3")).cast("decimal(38,0)")).as("g3"),
        sum((col("e") * col("x4")).cast("decimal(38,0)")).as("g4"),
        count(lit(1)).as("n")).head()
      // w_j += lr * avg(e * x_j) / S — every step truncating toward zero,
      // mirrored 1:1 in the oracle CTEs. g0's x is the implicit bias
      // input S. An empty corpus leaves the weights untouched (the final
      // projection is empty regardless, matching the old NULL-weight
      // path's empty output).
      val n = g.getLong(5)
      if (n > 0) {
        import java.math.BigInteger
        val lr = BigInteger.valueOf(lrPpm)
        val sB = BigInteger.valueOf(S)
        val s2 = sB.multiply(sB)
        val nB = BigInteger.valueOf(n)
        def gi(i: Int) = g.getDecimal(i).toBigInteger
        def step(j: Int, delta: BigInteger): Unit = {
          val next = delta.add(BigInteger.valueOf(w(j)))
          require(next.bitLength < 64, s"classifier weight w$j overflows a " +
            s"long: ${w(j)} + step $delta (lrPpm=$lrPpm, n=$n)")
          w(j) = next.longValueExact()
        }
        step(0, lr.multiply(gi(0).multiply(sB).divide(nB)).divide(s2))
        for (j <- 1 to 4)
          step(j, lr.multiply(gi(j).divide(nB)).divide(s2))
      }
    }

    fx
      .withColumn("m", marginOf(w))
      .withColumn("score_ppm", probPpm)
      .select(col("doc_id"), col("y"), col("score_ppm"),
        (col("score_ppm") >= lit(S / 2)).cast("boolean").as("pred"))
      .orderBy("doc_id")
  }
}
