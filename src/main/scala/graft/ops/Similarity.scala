package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (SURVEY §7.6): brute-force
  * cosine top-k as the exactness baseline, and random-hyperplane LSH
  * bucketing as the 100 TB path (candidates only meet inside a bucket, so
  * the join is bucket-keyed instead of an n² cross join).
  *
  * All vector math is higher-order functions over `array<float>`
  * (`zip_with` + `aggregate`) — whole-stage-codegen'd, no UDFs, no explode
  * in the hot path. Norms are computed ONCE per vector (not per pair) and
  * cosines are rounded to 6 dp before any ranking or thresholding so float
  * summation order can never flip a comparison.
  */
object Similarity {

  /** Sequential-fold dot product of two float vectors, in double — the
    * native codegen'd expression ([[graft.core.DotFold]]), bit-compatible
    * with the HOF form `aggregate(zip_with(a,b,_*_), 0.0, _+_)` it
    * replaced (HOFs are CodegenFallback: interpreted lambda dispatch per
    * element; the native loop is pure primitive code).
    */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def norm(v: Column): Column = sqrt(call_function("graft_sumsq", v))

  /** Cosine from a pairwise dot and two precomputed norms. */
  private def cosFrom(dotCol: Column, na: Column, nb: Column): Column =
    round(dotCol / (na * nb), 6)

  /** Convenience full cosine (used in specs; queries precompute norms). */
  def cosine(a: Column, b: Column): Column =
    cosFrom(dot(a, b), norm(a), norm(b))

  /** Exact top-k neighbors for a small query set (vec_id < nQueries):
    * broadcast the queries, rank by rounded cosine with vec_id tie-break.
    * Exactness baseline — cost is |Q| × N, linear in the corpus; each
    * side's norm is computed once, so a pair costs one 64-wide fold.
    */
  def bruteForceTopK(emb: DataFrame, nQueries: Int = 5, k: Int = 5): DataFrame = {
    val e = emb.repartition(col("vec_id")).select(col("vec_id"),
      col("embedding"), norm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"))
    val pairs = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosFrom(dot(col("qv"), col("embedding")), col("qnrm"), col("nrm"))
          .as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** Filtered vector search — top-k under a metadata predicate, the
    * retrieval-with-filters composition every RAG/curation stack needs:
    * the allowed-id set (from a relational predicate on a metadata table)
    * semi-joins the corpus BEFORE any distance math, so the expensive
    * cosine folds run only on qualifying vectors. At this SF the semi-join
    * broadcasts; at 100 TB it shuffles on id while the query set stays
    * broadcast — either way the filter composes into the scan side of the
    * plan instead of post-filtering a larger top-k (which can return fewer
    * than k and wastes distance work).
    */
  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein,
    * SIGIR'98) — the diversity-aware final stage of a retrieval stack:
    * greedily pick k of the top-`nCand` candidates maximizing
    *   mmr(c) = λ·rel(c) − (1−λ)·max_{s∈S} cos(c, s)
    * so near-duplicate hits cannot crowd the result list. The query is
    * vector `queryId`; rel is the rounded cosine to it.
    *
    * Scale shape: the DISTRIBUTED work is candidate generation — one
    * broadcast-query corpus scan + TakeOrdered top-nCand (swap in any of
    * the ANN paths above for the scan at 100 TB). The greedy loop then
    * runs on the COLLECTED nCand rows — a bounded driver artifact of the
    * same class as the BPE merge table (nCand ≤ dozens; k·nCand cosine
    * folds), not a driver-side join. Driver floats mirror the engine
    * expressions exactly: float-multiply-then-double-accumulate per
    * element (VectorOps.dotFold's fold), cosines rounded to 6 dp BEFORE
    * the max/argmax, ties broken by vec_id — so the DuckDB oracle's
    * unrolled-greedy CTE chain reproduces every pick bit-for-bit.
    */
  def mmrRerank(emb: DataFrame, queryId: Long = 0L, nCand: Int = 20,
      k: Int = 5, lam: Double = 0.7): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val e = emb.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qv"), col("nrm").as("qn"))
    val cand = e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"),
        cosFrom(dot(col("qv"), col("embedding")), col("qn"), col("nrm"))
          .as("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(nCand)
    val rows = cand.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    def fdot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val vecs = rows.map(r => r._1 -> r._2).toMap
    val nrms = rows.map(r => r._1 -> math.sqrt(fdot(r._2, r._2))).toMap
    var selected = Vector.empty[(Long, Double, Double)]
    var remaining = rows.toVector
    while (selected.size < k && remaining.nonEmpty) {
      val scored = remaining.map { case (id, v, rel) =>
        val ms =
          if (selected.isEmpty) 0.0
          else selected.map { case (sid, _, _) =>
            r6(fdot(v, vecs(sid)) / (nrms(id) * nrms(sid)))
          }.max
        (id, rel, r6(lam * rel - (1 - lam) * ms))
      }
      val best = scored.minBy { case (id, _, s) => (-s, id) }
      selected :+= best
      remaining = remaining.filterNot(_._1 == best._1)
    }
    selected.zipWithIndex
      .map { case ((id, rel, s), i) => ((i + 1).toLong, id, rel, s) }
      .toDF("rank", "vec_id", "rel", "mmr")
  }

  def filteredTopK(emb: DataFrame, allowedIds: DataFrame,
      nQueries: Int = 5, k: Int = 5): DataFrame = {
    val e = emb.repartition(col("vec_id")).select(col("vec_id"),
      col("embedding"), norm(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"))
    val corpus = e.join(allowedIds.select(col("vec_id")), Seq("vec_id"),
      "left_semi")
    val pairs = corpus.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosFrom(dot(col("qv"), col("embedding")), col("qnrm"), col("nrm"))
          .as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** Embedding width, read once from a single row — an O(1) driver lookup
    * (LocalLimit 1), not a data materialization. Callers that know the
    * width statically can pass it to `lshBucket` directly. An empty corpus
    * has no width, so every sizing rule built on it refuses by name.
    */
  def embDims(emb: DataFrame, c: String = "embedding"): Int = {
    val first = emb.select(size(col(c))).head(1)
    require(first.nonEmpty,
      "embDims needs a non-empty embedding corpus: no vector to size")
    first.head.getInt(0)
  }

  /** ±1 hyperplane components for plane `p` (optionally inside band `band`)
    * over `dims` components, derived from the seeded hash of the public
    * "band|p|i" / "p|i" construction — plan-time constants embedded as a
    * literal array, instead of paying bits×dims md5 calls per ROW (the
    * oracle derives the same ±1s from the same construction in SQL).
    */
  private def planeSigns(p: Int, dims: Int, band: Option[Int]): Seq[Double] =
    (0 until dims).map { i =>
      val key = band.fold(s"$p|$i")(b => s"$b|$p|$i")
      val h = graft.core.HashKeyOps.md5Hi64(
        org.apache.spark.unsafe.types.UTF8String.fromString(key))
      if (h % 2 == 0) 1.0 else -1.0
    }

  /** Random-hyperplane sketch: bit p = sign of <v, h_p> where hyperplane
    * h_p has components ±1 derived from the seeded hash of (p, i) — a
    * public construction the oracle reproduces. Projections are rounded
    * before the sign test so summation order can't flip a boundary bit.
    * `dims` must match the embedding width (derive it with `embDims`).
    */
  def lshBucket(v: Column, bits: Int, dims: Int,
      band: Option[Int] = None): Column = {
    val bitCols = (0 until bits).map { p =>
      // native mixed fold (graft.core.DotMixed): same widen-then-multiply
      // double semantics as the zip_with/aggregate chain it replaced
      val proj = call_function("graft_dot_mixed",
        v, typedlit(planeSigns(p, dims, band)))
      when(round(proj, 6) >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  private def bucketed(emb: DataFrame, bits: Int): DataFrame = {
    val dims = embDims(emb)
    emb.repartition(col("vec_id")).select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"),
      lshBucket(col("embedding"), bits, dims).as("bucket"))
  }

  /** ANN via LSH buckets: queries probe only their own bucket, then exact
    * rounded-cosine ranking inside it. Recall < 1 by design; the join is
    * bucket-keyed so at 100 TB each task sees ~N/2^bits candidates.
    */
  def lshTopK(emb: DataFrame, nQueries: Int = 5, k: Int = 3,
      bits: Int = 4): DataFrame = {
    val e = bucketed(emb, bits)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"), col("bucket").as("qbucket"))
    val pairs = e.join(broadcast(q),
        col("bucket") === col("qbucket") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosFrom(dot(col("qv"), col("embedding")), col("qnrm"), col("nrm"))
          .as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** Multi-probe LSH ANN (Lv et al., VLDB'07): each query probes its own
    * bucket PLUS the Hamming-1 shell (every 1-bit flip of its key) — the
    * buckets a near neighbor most likely landed in when a projection
    * crossed zero. Recovers most of the recall that single-probe LSH
    * loses at high `bits` WITHOUT lowering bits (which would square the
    * in-bucket candidate count); candidate volume is (bits+1) bucket
    * probes ≈ (bits+1)·N/2^bits per query — still bucket-keyed, never a
    * corpus scan. The probe fan-out is a map-side explode of the tiny
    * broadcast query frame; each corpus vector lives in exactly one
    * bucket and probe keys are distinct, so no pair dedup is needed.
    */
  def multiProbeTopK(emb: DataFrame, nQueries: Int = 5, k: Int = 3,
      bits: Int = 6): DataFrame = {
    val e = bucketed(emb, bits)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"), col("bucket").as("qbucket"))
    val probeArr = array((Seq(col("qbucket")) ++ (0 until bits).map(p =>
      col("qbucket").bitwiseXOR(lit(1L << p)))): _*)
    val probes = q.select(col("query_id"), col("qv"), col("qnrm"),
      explode(probeArr).as("probe"))
    val pairs = e.join(broadcast(probes),
        col("bucket") === col("probe") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosFrom(dot(col("qv"), col("embedding")), col("qnrm"), col("nrm"))
          .as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** IVF-style ANN: a coarse quantizer partitions the corpus into inverted
    * lists; queries probe only the `nprobe` nearest lists, then rank
    * exactly inside them. The quantizer is deterministic either way:
    * centroids = the `nlists` smallest vec_ids by default (oracle-exact,
    * sparse-id safe), or — with a `seed` — a kmeans||-style salted-hash
    * sample spread over the corpus (same device as
    * [[Clustering.seedIds]]). Both are a TakeOrdered of `nlists` rows, no
    * collect; swap in fully trained centroids (e.g. [[Clustering]] means)
    * without changing the plan shape — assignment stays a broadcast
    * argmax, probing stays a list-keyed join.
    *
    * @param lists the (vec_id, list_id) inverted-list index,
    *   [[fitIvfLists]] under the same `nlists` and `seed`: the probe run
    *   pays a list lookup, never the corpus-wide argmax window
    */
  def ivfTopK(emb: DataFrame, lists: DataFrame, nQueries: Int = 5,
      k: Int = 3, nlists: Int = 16, nprobe: Int = 2,
      seed: Option[Long] = None): DataFrame = {
    val e = emb.repartition(col("vec_id")).select(col("vec_id"),
      col("embedding"), norm(col("embedding")).as("nrm"))
    val cents = ivfSeedCentroids(e, nlists, seed)
    val assigned = e.join(lists, Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("list_id"))
    // queries probe their nprobe nearest lists
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("ccos").desc, col("cent_id"))
    val probes = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"))
      .join(broadcast(cents))
      .withColumn("ccos",
        cosFrom(dot(col("qv"), col("cv")), col("qnrm"), col("cnrm")))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("qv"), col("qnrm"),
        col("cent_id").as("list_id"))
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    assigned.join(broadcast(probes),
        assigned("list_id") === probes("list_id") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosFrom(dot(col("qv"), col("embedding")), col("qnrm"), col("nrm"))
          .as("cos_sim"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** The seed-rule coarse centroids [[ivfTopK]] uses: the `nlists`
    * smallest vec_ids (oracle-exact), or a salted-hash sample with a
    * `seed`. A TakeOrdered of nlists rows — metadata cost at any SF.
    */
  private def ivfSeedCentroids(e: DataFrame, nlists: Int,
      seed: Option[Long]): DataFrame =
    (seed match {
      case Some(sd) =>
        e.orderBy(xxhash64(lit(sd), col("vec_id")), col("vec_id"))
          .limit(nlists)
      case None => e.orderBy(col("vec_id")).limit(nlists)
    })
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"),
        col("nrm").as("cnrm"))

  /** Fit the inverted-list assignment of [[ivfTopK]]'s seed-rule
    * quantizer: each vector's nearest seed centroid by rounded cosine,
    * cent_id tie-break — the one corpus-wide argmax window in the IVF
    * build, and the (vec_id, list_id) index a production deployment
    * persists once per corpus. [[ivfTopK]] takes it as `lists` and
    * re-derives the same seed centroids from their rule for its probes.
    */
  def fitIvfLists(emb: DataFrame, nlists: Int = 16,
      seed: Option[Long] = None): DataFrame = {
    val e = emb.repartition(col("vec_id")).select(col("vec_id"),
      col("embedding"), norm(col("embedding")).as("nrm"))
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("ccos").desc, col("cent_id"))
    e.join(broadcast(ivfSeedCentroids(e, nlists, seed)))
      .withColumn("ccos",
        cosFrom(dot(col("embedding"), col("cv")), col("nrm"), col("cnrm")))
      .withColumn("crank", row_number().over(wAssign))
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("cent_id").as("list_id"))
  }

  /** Recall@k of the two approximate indexes against the exact baseline —
    * the observability face of [[lshTopK]]/[[ivfTopK]]: one row per
    * method with hit/total counts and the recall ratio. The exact top-k
    * is computed ONCE ([[bruteForceTopK]], localCheckpoint'd — it is the
    * expensive |Q|×N scan) and each approximate result semi-joins against
    * it on (query, neighbor); everything downstream of the three top-k
    * frames is a few-row agg, so the cost is the three indexes
    * themselves. The trained artifacts come in: `lists` from
    * [[fitIvfLists]] (16 lists), `codebooks` and `codes` from [[fitPq]]
    * (8 subspaces).
    */
  def annRecall(emb: DataFrame, lists: DataFrame, codebooks: DataFrame,
      codes: DataFrame, nQueries: Int = 5, k: Int = 3): DataFrame = {
    val exact = bruteForceTopK(emb, nQueries, k)
      .select("query_id", "neighbor_id").localCheckpoint()
    val exactN = exact.agg(count(lit(1)).as("n_exact"))
    def hits(approx: DataFrame, name: String): DataFrame =
      approx.select("query_id", "neighbor_id")
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hit"))
        .select(lit(name).as("method"), col("n_hit"))
    hits(ivfTopK(emb, lists, nQueries, k, nlists = 16, nprobe = 2), "ivf")
      .unionByName(hits(lshTopK(emb, nQueries, k, bits = 4), "lsh"))
      .unionByName(hits(multiProbeTopK(emb, nQueries, k, bits = 6),
        "multiprobe"))
      .unionByName(hits(pqTopK(emb, codebooks, codes, nQueries, k), "pq"))
      .crossJoin(broadcast(exactN))
      .select(col("method"), col("n_hit"), col("n_exact"),
        round(col("n_hit").cast("double") / col("n_exact"), 6).as("recall"))
      .orderBy("method")
  }

  /** Fit ONLY the coarse quantizer (the centroid table, nlists×dims rows
    * of DECIMAL components) — the artifact a production index persists
    * once per corpus and every probe run loads instead of re-fitting.
    * [[ivfTrainedTopK]], [[ivfAssign]] and [[ivfAppend]] take it as
    * `centroids`.
    */
  def fitQuantizer(emb: DataFrame, nlists: Int = 8, iters: Int = 1,
      exploded: Option[DataFrame] = None): DataFrame =
    Clustering.kmeansFit(emb, nlists, iters, None, exploded)._3

  /** Product-quantization ANN (the FAISS-PQ workhorse): the vector space
    * splits into `m` subspaces, each with its own tiny `ksub`-codeword
    * codebook (one deterministic Lloyd round, first-k init); a vector's
    * code is its per-subspace nearest codeword, and query distance is the
    * ADC approximation Σ_m ‖q_m − codeword_m‖² — one lookup-table join
    * per subspace instead of a full-width distance.
    *
    * Scale shape: every stage keys on (m, cluster) or (vec_id, m) —
    * codebooks and LUTs are broadcast-sized (m × ksub rows per query),
    * the corpus appears only in the one exploded assignment pass and the
    * code table (m rows per vector — at 100 TB the m-byte code table
    * IS the index you keep in memory while the raw vectors stay on
    * disk). The ADC scan is |Q|·N·m joined rows against the broadcast
    * LUT; production composes PQ with IVF so N shrinks to the probed
    * lists — the composition is the same join with `codes` pre-filtered.
    *
    * Determinism: the whole fit/encode/score path is the exploded-DECIMAL
    * discipline (argmin on exact decimals, means re-quantized once, ADC
    * partials exact) — bit-identical across engines/partitionings.
    *
    * The trained artifacts come in: `codebooks` and `codes` from
    * [[fitPq]] under the same `m`, so a probe run pays only the query-side
    * explode and the ADC scan, never the corpus-wide train/encode passes.
    */
  def pqTopK(emb: DataFrame, codebooks: DataFrame, codes: DataFrame,
      nQueries: Int = 5, k: Int = 3, m: Int = 8): DataFrame = {
    val dims = embDims(emb)
    require(dims % m == 0, s"dims $dims not divisible by $m subspaces")
    val dsub = dims / m
    val lut = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("query_id"), expr(s"dim div $dsub").as("m"),
        expr(s"dim % $dsub").as("dm"),
        col("x").cast("double").cast("decimal(12,8)").as("xq"))
      .join(broadcast(codebooks), Seq("m", "dm"))
      .groupBy("query_id", "m", "cluster")
      .agg(sum((col("xq") - col("cd")) * (col("xq") - col("cd"))).as("pd"))
    val adc = codes.join(broadcast(lut), Seq("m", "cluster"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("pd")).as("d2"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("d2"), col("vec_id"))
    adc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("neighbor_id"),
        round(col("d2").cast("double"), 6).as("approx_d2"))
      .orderBy("query_id", "rank")
  }

  /** Train the PQ artifacts: per-subspace codebooks (one deterministic
    * Lloyd round, first-k init) and the per-vector code table — the two
    * corpus-pass products a production PQ index persists once (the code
    * table IS the in-memory index at 100 TB; the raw vectors stay on
    * disk). Returns (codebooks (m, cluster, dm, cd), codes (vec_id, m,
    * cluster)); both are exact-DECIMAL / integer frames, so a parquet
    * round-trip is bit-lossless and probe runs reproduce the in-plan fit
    * exactly.
    */
  def fitPq(emb: DataFrame, m: Int = 8, ksub: Int = 4)
      : (DataFrame, DataFrame) = {
    val dims = embDims(emb)
    require(dims % m == 0, s"dims $dims not divisible by $m subspaces")
    val dsub = dims / m
    val ex = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), expr(s"dim div $dsub").as("m"),
        expr(s"dim % $dsub").as("dm"),
        col("x").cast("double").cast("decimal(12,8)").as("xq"))
      .localCheckpoint()
    val cen0 = ex.filter(col("vec_id") < ksub)
      .select(col("m"), col("vec_id").cast("int").as("cluster"),
        col("dm"), col("xq").as("cd"))
    // per-subspace argmin against a codebook frame (m×ksub×dsub rows —
    // always broadcast); subspace id rides in every key, so ALL
    // codebooks train/encode in one plan, no per-subspace loop
    def assign(cen: DataFrame): DataFrame = {
      val cnorm = cen.groupBy("m", "cluster")
        .agg(sum(col("cd") * col("cd")).as("cnorm"))
      val dots = ex.join(broadcast(cen), Seq("m", "dm"))
        .groupBy("vec_id", "m", "cluster")
        .agg(sum(col("xq") * col("cd")).as("dot"))
      val rn = row_number().over(Window.partitionBy("vec_id", "m")
        .orderBy(col("cnorm") - lit(2) * col("dot"), col("cluster")))
      dots.join(broadcast(cnorm), Seq("m", "cluster"))
        .withColumn("rn", rn).filter(col("rn") === 1)
        .select("vec_id", "m", "cluster")
    }
    val cen1 = ex.join(assign(cen0), Seq("vec_id", "m"))
      .groupBy("m", "cluster", "dm")
      .agg((sum(col("xq")).cast("double") / count(lit(1)))
        .cast("decimal(12,8)").as("cd"))
      .localCheckpoint()
    (cen1, assign(cen1)) // encode: nearest trained codeword per subspace
  }

  /** Assignment of vectors to their nearest trained list — the
    * [[ivfTrainedTopK]] rule (rounded cosine desc, cluster tie-break)
    * factored out so index MAINTENANCE can run it over a new batch
    * against FROZEN centroids. Scale shape: one map-side explode of the
    * batch, centroid/norm frames broadcast (nlists×dims rows), one
    * per-vector argmax — shuffle ∝ batch, never the indexed corpus.
    */
  def ivfAssign(emb: DataFrame, centroids: DataFrame,
      exploded: Option[DataFrame] = None): DataFrame = {
    // shared-materialization hook: the exploded-decimal frame is the
    // dominant per-step cost of the IVF lifecycle (one checkpointed
    // explode per call — ann_ivf_refit paid it 4× before r15); callers
    // composing fit+assign+patch pass one frame (or a row-identical
    // FILTER of one frame — the decimal cast is row-wise, so
    // explodeDecimal(emb).filter(p) ≡ explodeDecimal(emb.filter(p)))
    val ex = exploded.getOrElse(Clustering.explodeDecimal(emb))
    rankedLists(ex, centroids).filter(col("rn") === 1)
      .select(col("vec_id"), col("cluster").as("list_id"))
  }

  /** Every (vector, trained list) pair of the exploded-decimal corpus `ex`
    * with its rank `rn` per vector: rounded cosine desc, cluster
    * tie-break, decimal dots and norms. `rn = 1` is the assignment,
    * `rn <= nprobe` a query's probe lists.
    */
  private def rankedLists(ex: DataFrame, centroids: DataFrame): DataFrame = {
    val vnorm = ex.groupBy("vec_id")
      .agg(sqrt(sum(col("xq") * col("xq")).cast("double")).as("vnrm"))
    val cnorm = centroids.groupBy("cluster")
      .agg(sqrt(sum(col("cd") * col("cd")).cast("double")).as("cnrm"))
    val dots = ex.join(broadcast(centroids), "dim")
      .groupBy("vec_id", "cluster").agg(sum(col("xq") * col("cd")).as("dt"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("ccos").desc, col("cluster"))
    dots.join(vnorm, "vec_id").join(broadcast(cnorm), "cluster")
      .withColumn("ccos",
        round(col("dt").cast("double") / (col("vnrm") * col("cnrm")), 6))
      .withColumn("rn", row_number().over(w))
  }

  /** Incremental IVF index maintenance: append a new vector batch to a
    * PERSISTED index — assign the batch to the EXISTING centroids and
    * extend the inverted lists; no refit. The expensive artifact (the
    * trained quantizer) is immutable, appends touch only the delta, and
    * append ≡ full-rebuild-assignment on the same centroids (the
    * correctness gate `ann_ivf_append` hashes exactly that equivalence).
    *
    * The DRIFT GATE is the honesty condition of no-refit maintenance: a
    * frozen quantizer only represents the corpus it was fit on, so once
    * the appended volume passes `maxAppendFraction` of the indexed
    * corpus the call REFUSES and demands a refit (IllegalArgumentException
    * "refit required") instead of silently degrading recall. The two
    * sizing counts are metadata-cheap on a bare index scan and bounded
    * either way.
    */
  def ivfAppend(index0: DataFrame, batch: DataFrame, centroids: DataFrame,
      maxAppendFraction: Double = 0.5,
      batchExploded: Option[DataFrame] = None): DataFrame = {
    // One materialization of the index serves the drift gate AND the
    // union (before r15 the gate's count() computed the whole assignment
    // pipeline once and the union recomputed it), and the two sizing
    // counts run as ONE action (a crossJoin of two 1-row aggs) instead of
    // two driver round-trips — guide §5, driver does no per-step work.
    val index = index0.localCheckpoint()
    val sizes = index.agg(count(lit(1)).as("ni"))
      .crossJoin(batch.agg(count(lit(1)).as("nn"))).head
    val (nIndexed, nNew) = (sizes.getLong(0), sizes.getLong(1))
    require(nNew <= maxAppendFraction * nIndexed,
      s"refit required: appending $nNew vectors onto a $nIndexed-vector " +
        s"index exceeds the $maxAppendFraction drift budget — frozen " +
        "centroids no longer represent the corpus; refit the quantizer")
    index.unionByName(ivfAssign(batch, centroids, batchExploded))
  }

  /** The REFIT the drift gate demands (round-7 verdict item 5): when
    * [[ivfAppend]] refuses — the appended volume has outgrown what the
    * frozen quantizer was fit on — re-fit the quantizer over the CURRENT
    * corpus and bring the persisted index up to date by PATCHING, not
    * rewriting: the fresh assignment under the new centroids is
    * anti-joined against the stored `(vec_id, list_id)` rows, and only
    * the vectors whose list actually changed (plus genuinely new ids)
    * are replaced — unchanged index rows are carried through untouched.
    *
    * Scale shape: the fit is one bounded Lloyd pass (centroids broadcast,
    * shuffle ∝ corpus — the cost refusal already said we must pay); the
    * patch adds two hash joins on the narrow 2-column index, and the
    * REWRITE volume a persisted index pays downstream is ∝ moved rows,
    * not the index — after a modest drift most vectors keep their list.
    *
    * Correctness invariant (the `ann_ivf_refit` oracle hashes it): the
    * patched index is row-identical to a fresh
    * `fitQuantizer` + `ivfAssign` over the whole corpus — patching is an
    * IO optimization, never a semantic one. `emb` must be the full
    * current corpus (base + appended); the refit quantizer to persist
    * (under a fresh content fingerprint, the ann_ivf_trained discipline)
    * is re-derivable via [[fitQuantizer]] on the same corpus.
    */
  def ivfRefit(index: DataFrame, emb: DataFrame, nlists: Int = 8,
      iters: Int = 1, exploded: Option[DataFrame] = None): DataFrame = {
    // ONE exploded-decimal materialization feeds both the Lloyd fit and
    // the fresh assignment (each used to pay its own explode checkpoint)
    val ex = exploded.getOrElse(Clustering.explodeDecimal(emb))
    val cen = fitQuantizer(emb, nlists, iters, Some(ex))
    val fresh = ivfAssign(emb, cen, Some(ex))
    val moved = fresh.join(index, Seq("vec_id", "list_id"), "left_anti")
    index.join(moved.select("vec_id"), Seq("vec_id"), "left_anti")
      .unionByName(moved)
  }

  /** IVF with a TRAINED coarse quantizer: `centroids` come from
    * [[fitQuantizer]] (exact-DECIMAL Lloyd) instead of the first-k seed
    * vectors — the production shape for a 100 TB ANN index, where the
    * quantizer is fit to the data distribution so the inverted lists are
    * balanced and probes hit the dense regions. Assignment and probing run
    * in the SAME exploded-decimal space as the trainer (decimal dots,
    * double division rounded to 6 — bit-consistent across engines and
    * partitionings); the final exact rank inside the probed lists runs in
    * array space like [[ivfTopK]]. Centroid frames stay broadcast-sized;
    * the corpus never collects, and a probe run pays one map-side explode,
    * never an iterative fit.
    */
  def ivfTrainedTopK(emb: DataFrame, centroids: DataFrame,
      nQueries: Int = 5, k: Int = 3, nprobe: Int = 2): DataFrame = {
    val ranked = rankedLists(Clustering.explodeDecimal(emb), centroids)
    val assignedLists = ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("cluster").as("list_id"))
    val probeLists = ranked
      .filter(col("vec_id") < nQueries && col("rn") <= nprobe)
      .select(col("vec_id").as("query_id"), col("cluster").as("list_id"))

    val e = emb.repartition(col("vec_id")).select(col("vec_id"),
      col("embedding"), norm(col("embedding")).as("nrm"))
    val cand = e.join(assignedLists, "vec_id")
    val probes = probeLists.join(
      e.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm")), "query_id")
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    cand.join(broadcast(probes),
        cand("list_id") === probes("list_id") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosFrom(dot(col("qv"), col("embedding")), col("qnrm"), col("nrm"))
          .as("cos_sim"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos_sim"))
      .orderBy("query_id", "rank")
  }

  /** Embedding near-dup pairs, LSH-blocked: pairs only form inside a
    * 4-bit bucket (the blocking key), then exact rounded cosine >=
    * threshold. Fixed-parameter baseline — with a constant bucket count
    * the in-bucket pair volume is ∝ N²; the shape that survives a 100×
    * scale-up is [[embeddingNearDupsAdaptive]] (banded recall + corpus-
    * sized bucket width).
    */
  def embeddingNearDups(emb: DataFrame, threshold: Double = 0.35,
      bits: Int = 4): DataFrame = {
    val bk = bucketed(emb, bits)
    val a = bk.as("a")
    val b = bk.as("b")
    a.join(b,
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cosFrom(dot(col("a.embedding"), col("b.embedding")),
          col("a.nrm"), col("b.nrm")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .orderBy("vec_a", "vec_b")
  }

  /** Symmetric int8 quantization of an embedding column: per-vector scale
    * = max(|x|), q_i = floor(x_i·127/scale + 0.5) — the storage/transport
    * compression step before ANN indexing (4× smaller than float32). The
    * half-up rounding is spelled out as floor(·+0.5) so any engine
    * reproduces it bit-for-bit (library `round` functions disagree on
    * ties). Output is exploded to (vec_id, dim_idx, q) scalar rows plus
    * the scale needed to dequantize. Pure per-row math — no shuffle.
    */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val v = col("embedding")
    val scale = array_max(transform(v, x => abs(x.cast("double"))))
    emb.select(col("vec_id"), col("embedding"), scale.as("scale"))
      .select(col("vec_id"), col("scale"),
        posexplode(transform(v, x =>
          when(col("scale") === 0.0, lit(0L)).otherwise(
            floor(x.cast("double") * 127.0 / col("scale") + 0.5))))
          .as(Seq("dim_idx", "q")))
      .select(col("vec_id"), col("dim_idx").cast("long").as("dim_idx"),
        col("q").cast("long").as("q"), col("scale"))
      .orderBy("vec_id", "dim_idx")
  }

  /** Banded OR-amplified near-dup pairs — the corpus-scale variant of
    * `embeddingNearDups`. Each vector gets `bands` independent bucket keys
    * (band b hashes `bitsPerBand` hyperplanes seeded "b|p|i"); a pair is a
    * candidate if it collides in ANY band, then exact rounded cosine >=
    * threshold verifies. The blocking-key count is bands × 2^bitsPerBand,
    * so within-bucket pair counts stay bounded as N grows — raise
    * bitsPerBand for selectivity, bands for recall (classic b×r
    * amplification: P(candidate) = 1-(1-s^r)^b for sign-agreement rate s).
    *
    * Shuffle shape: the self-join is keyed on (band, bucket) over an
    * id+key projection only (embeddings are NOT replicated bands×); the
    * distinct candidate id-pairs then join back to the vectors for the
    * verify pass.
    */
  def embeddingNearDupsBanded(emb: DataFrame, threshold: Double = 0.35,
      bands: Int = 4, bitsPerBand: Int = 6): DataFrame = {
    val dims = embDims(emb)
    val e = emb.repartition(col("vec_id")).select(col("vec_id"),
      col("embedding"), norm(col("embedding")).as("nrm"))
    val bandKeys = array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        lshBucket(col("embedding"), bitsPerBand, dims, Some(b)).as("bh"))
    }: _*)
    // Verify IN the bucket join (round-7, the sawtooth-leg finding): the
    // old form kept candidate keys lean, deduped, then joined embeddings
    // back on — which broadcast-hides the pair volume at tiny SFs but
    // cliff-transitions to SMJ the moment the corpus passes the
    // auto-broadcast threshold, and the SMJ ships EMBEDDING-CARRYING
    // pair rows: bytes ∝ candidates × vector width (measured 8.2 →
    // 331.5 MB between n=32k and n=40k — a 40× wall at the 10-bit step
    // that had nothing to do with occupancy). Carrying the vectors in
    // the band-keyed exchange instead puts the verify cosine INSIDE the
    // join tasks: shuffle ∝ bands·N·vector-width — linear in the corpus,
    // candidate volume never moves (it is CPU inside the task, where the
    // adaptive occupancy bound keeps it ∝ N). Near-dup pairs colliding
    // in several bands recompute the cosine per collision and dedup
    // AFTER the threshold filter — the surviving set is sparse, so the
    // distinct is key-bounded, and the rounded cosine is deterministic
    // so the distinct over (pair, cos) is exact.
    val keyed = e
      .select(col("vec_id"), col("embedding"), col("nrm"),
        explode(bandKeys).as("bb"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("bb.band").as("band"), col("bb.bh").as("bh"))
    keyed.as("x").join(keyed.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        cosFrom(dot(col("x.embedding"), col("y.embedding")),
          col("x.nrm"), col("y.nrm")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
      .distinct()
      .orderBy("vec_a", "vec_b")
  }

  /** Per-band bucket width that keeps the EXPECTED in-bucket occupancy at
    * ~`targetPerBucket` as the corpus grows: the smallest p with
    * 2^p · target ≥ n, floored at `minBits`. Fixed-parameter blocking is
    * quadratic in N (bucket count constant ⇒ in-bucket pairs ∝ (N/2^bits)²
    * per bucket × 2^bits buckets = N²/2^bits); growing bits with log₂(N)
    * pins per-bucket size, making candidate volume ∝ N. Integer-only on
    * purpose — a float log₂ disagrees with the oracle's in the last ulp at
    * exact powers of two.
    */
  def adaptiveBitsPerBand(n: Long, minBits: Int = 6,
      targetPerBucket: Long = 64L): Int = {
    val p = (0 to 30).find(p => (1L << p) * targetPerBucket >= n).getOrElse(30)
    math.max(minBits, p)
  }

  /** [[embeddingNearDupsBanded]] with the bucket width chosen from the
    * corpus size by [[adaptiveBitsPerBand]] — the form that survives a
    * 100× scale-up: bands give OR-amplified recall, adaptive bits hold
    * per-bucket candidate density constant so the self-join stays ∝ N.
    *
    * The corpus size `nRows` is a required input of the sizing rule: the
    * caller reads it where it is cheap and shared (`Tables.rowCount` for a
    * declared table, a prior `.count()` for a derived frame), so the
    * operator never runs a sizing probe of its own.
    */
  def embeddingNearDupsAdaptive(emb: DataFrame, nRows: Long,
      threshold: Double = 0.35, bands: Int = 4): DataFrame =
    embeddingNearDupsBanded(emb, threshold, bands,
      adaptiveBitsPerBand(nRows))

  /** [[embeddingNearDups]] (the didactic SINGLE-bucket blocking baseline)
    * with its width chosen by the same [[adaptiveBitsPerBand]] rule —
    * the round-8 fix for the sf2 bench finding: at fixed 4 bits the
    * 16 buckets hold N/16 vectors each, so in-bucket cosine pairs grow
    * ∝ N²/16 (measured 4.9× wall for 2× data at n=40k; the cost was
    * COMPUTE, not shuffle — 20 MB of bytes behind 20 s of cosines).
    * Adaptive width pins expected occupancy, restoring candidate volume
    * ∝ N. `minBits = 4` keeps the driver-SF outputs bit-identical to the
    * historical fixed-4 form; recall under AND-only single-probe
    * blocking shrinks as bits grow — the OR-amplified
    * [[embeddingNearDupsAdaptive]] banded family is the recall-correct
    * production path, and `dedup_minhash_recall`/`ann_recall` measure
    * that tradeoff on the declared surface. `nRows` is the corpus size,
    * as for [[embeddingNearDupsAdaptive]].
    */
  def embeddingNearDupsAdaptiveSingle(emb: DataFrame, nRows: Long,
      threshold: Double = 0.35): DataFrame =
    embeddingNearDups(emb, threshold, adaptiveBitsPerBand(nRows, minBits = 4))

  /** Hard-triplet mining for metric-learning batches: per anchor, the
    * HARDEST positive (same label, MINIMUM cosine — the same-class pair
    * the model most confuses) and HARDEST negative (different label,
    * MAXIMUM cosine — the impostor), plus whether the pair violates the
    * margin (neg + m > pos), i.e. contributes loss.
    *
    * Scale shape: the anchor set is a bounded slice (|A| ≪ N), so the
    * cosine fan-out is |A|·N with the anchors BROADCAST — the corpus
    * never shuffles, and each corpus partition scores its rows against
    * every anchor map-side (the bruteForceTopK plan, reused). Both
    * argmins ride one per-anchor window over the scored rows. Cosines
    * round to 6 dp BEFORE the min/max/argmax (the cosine discipline), so
    * tie-breaks (lowest neighbor id) are cross-engine deterministic.
    */
  def tripletMining(emb: DataFrame, nAnchors: Int = 20,
                    margin: Double = 0.1): DataFrame = {
    val e = emb.repartition(col("vec_id")).select(col("vec_id"),
      col("label"), col("embedding"), norm(col("embedding")).as("nrm"))
    val a = e.filter(col("vec_id") < nAnchors)
      .select(col("vec_id").as("anchor_id"), col("label").as("a_label"),
        col("embedding").as("av"), col("nrm").as("anrm"))
    val scored = e.join(broadcast(a), col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("a_label"), col("vec_id"), col("label"),
        cosFrom(dot(col("av"), col("embedding")), col("anrm"), col("nrm"))
          .as("cos"))
    val pos = scored.filter(col("label") === col("a_label"))
      .withColumn("r", row_number().over(Window.partitionBy("anchor_id")
        .orderBy(col("cos"), col("vec_id"))))
      .filter(col("r") === 1)
      .select(col("anchor_id"), col("vec_id").as("pos_id"),
        col("cos").as("pos_cos"))
    val neg = scored.filter(col("label") =!= col("a_label"))
      .withColumn("r", row_number().over(Window.partitionBy("anchor_id")
        .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("r") === 1)
      .select(col("anchor_id"), col("vec_id").as("neg_id"),
        col("cos").as("neg_cos"))
    // both sides are ≤|anchors| rows, but their size is opaque behind the
    // windows — without the hint the final assembly falls to sort-merge
    pos.join(broadcast(neg), "anchor_id")
      .select(col("anchor_id"), col("pos_id"), col("pos_cos"),
        col("neg_id"), col("neg_cos"),
        (col("neg_cos") + lit(margin) > col("pos_cos")).as("violates"))
      .orderBy("anchor_id")
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * semantic near-duplicate pruning = partition the embedding space into
    * k clusters, then prune within each cluster — the cluster IS the
    * blocking key, so the pairwise pass never crosses cluster boundaries
    * and k scales with the corpus to hold per-cluster volume constant
    * (the paper's 50k clusters over LAION at 100 TB scale).
    *
    * Deterministic form (the repo's oracle discipline): centroids are the
    * k lowest-id vectors (a frozen quantizer, the `ann_ivf_trained`
    * persistence discipline applies to a production fit); assignment is
    * argmax rounded cosine, ties to the lowest centroid id, via a
    * BROADCAST of the k×dims centroid block (the corpus never shuffles to
    * be assigned). Within a cluster, candidates are additionally blocked
    * by the corpus-adaptive hyperplane bucket ([[adaptiveBitsPerBand]],
    * the round-8 lesson) so a degenerate cluster cannot go quadratic:
    * pair volume stays ∝ N even if assignment skews. A vector is DROPPED
    * when any LOWER-id vector in the same (cluster, bucket) block has
    * cosine >= threshold — keep-lowest-id, the exact-dedup canonical rule.
    *
    * Output is the per-cluster census (cluster_id, n_vecs, n_dropped,
    * dropped_id_sum) — domain-bounded (k rows), so the gate stays small
    * at any SF while hashing every drop decision through the id sum.
    * `nRows` is the corpus size, as for [[embeddingNearDupsAdaptive]].
    */
  def semanticDedup(emb: DataFrame, nRows: Long, k: Int = 8,
      threshold: Double = 0.35): DataFrame = {
    val e = emb.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    val cent = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"),
        col("nrm").as("cnrm"))
    val asg = e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cid"),
        cosFrom(dot(col("cv"), col("embedding")), col("cnrm"), col("nrm"))
          .as("ccos"))
      .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("ccos").desc, col("cid")))) // k-row frames: bounded
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cid"))
    val bits = adaptiveBitsPerBand(nRows, minBits = 4)
    val dims = embDims(emb)
    val bk = asg.withColumn("bucket",
      lshBucket(col("embedding"), bits, dims))
    val a = bk.select(col("cid"), col("bucket"), col("vec_id").as("va"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = bk.select(col("cid"), col("bucket"), col("vec_id").as("vb"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val dropped = a.join(b, Seq("cid", "bucket"))
      .filter(col("va") < col("vb"))
      .filter(cosFrom(dot(col("ea"), col("eb")), col("na"), col("nb"))
        >= threshold)
      .select(col("cid"), col("vb").as("vec_id")).distinct()
    asg.groupBy("cid").agg(count(lit(1)).as("n_vecs"))
      .join(dropped.groupBy("cid")
        .agg(count(lit(1)).as("nd"), sum(col("vec_id")).as("ds")),
        Seq("cid"), "left")
      .select(col("cid").cast("long").as("cluster_id"), col("n_vecs"),
        coalesce(col("nd"), lit(0L)).as("n_dropped"),
        coalesce(col("ds"), lit(0L)).as("dropped_id_sum"))
      .orderBy("cluster_id")
  }
}
