package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.GraftFunctions
import graft.ops.TextOps._

/** Deduplication family for 100 TB training-data pipelines (SURVEY §7.6):
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, and LSH-blocked embedding
  * cosine. Every variant is candidate-generation-first: the only joins are
  * on hash buckets / inverted shingle lists, never an all-pairs cross join
  * (except where explicitly bounded), so the shapes survive a 1000-executor
  * scale-up — the shuffle key is always the bucket/shingle, and skew is
  * bounded by shingle frequency.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the minimum doc_id as
    * canonical. One hash-shuffle on a 63-bit key (upper MD5 half), the
    * classic first pass of any dedup pipeline. The key is deliberately NOT
    * the 1e9-space surrogate hash used for dim keys: at ~2^30 the birthday
    * bound gives a first false merge near 37k distinct documents, while
    * 2^63 holds collision odds below 1e-6 past 10^8 docs.
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        GraftFunctions.hash64(coalesce(lower(trim(col("text"))), lit("")))
          .as("text_hash"))
      .groupBy("text_hash")
      .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
      .orderBy("canonical_id")

  val MinhashSigs = 16
  val MinhashBands = 4 // 4 rows per band

  /** Prime modulus for the linear hash family (2^31 - 1): keeps every
    * `a*h + b` product under 2^62 so plain 64-bit arithmetic is exact in
    * both Spark and the DuckDB oracle.
    */
  val MinhashP: Long = 2147483647L

  /** Family constants, derived from the permutation index by a fixed public
    * formula (Knuth multiplicative constant) — embedded as literals into
    * the oracle SQL so both engines use identical permutations.
    */
  def minhashA(i: Int): Long = ((i + 1) * 2654435761L) % (MinhashP - 1) + 1
  def minhashB(i: Int): Long = ((i + 1) * 40503L * 2654435761L) % MinhashP

  /** MinHash signature (16 perms) per doc over distinct word-bigram
    * shingles: one explode + ONE md5 per shingle, then the 16 permutations
    * as linear functions (a_i*h + b_i) mod p of that base hash — 16× fewer
    * digest computations than hashing per permutation. One hash-aggregate,
    * map-side combinable, no joins.
    */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    // single-file inputs arrive as one partition; spread the explode-heavy
    // compute across the cluster, and materialize the token array so the
    // shingle lambda dereferences an attribute (see TextOps.bigramShingles).
    // PINNED spread (r15): the former un-numbered repartition(doc_id) was
    // AQE-coalescible — measured at sf0.1/local[32], the whole
    // tokenize+shingle+minhash stage ran on ONE task (0.5 s serialized);
    // the gated pinned form keeps it wide locally and is a no-op (not
    // even a shuffle) on already-wide scans.
    val sh = withTokens(graft.core.Parallelism.spread(docs, col("doc_id")))
      .select(col("doc_id"), explode(bigramShingles(col("t"))).as("sh"))
      .withColumn("h", GraftFunctions.hash64(col("sh")) % MinhashP)
    val aggs = (0 until MinhashSigs).map(i =>
      min((lit(minhashA(i)) * col("h") + lit(minhashB(i))) % MinhashP)
        .as(s"s$i"))
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Signatures exploded into (band, bandHash) rows — the LSH bucketing key
    * shared by [[minhashPairs]] and [[ngramJaccardPairs]].
    */
  def bandedSignatures(docs: DataFrame): DataFrame = {
    val sig = minhashSignatures(docs)
    val sigCols = (0 until MinhashSigs).map(i => col(s"s$i"))
    val bandStructs = (0 until MinhashBands).map { b =>
      val rows = (0 until MinhashSigs / MinhashBands)
        .map(r => col(s"s${b * (MinhashSigs / MinhashBands) + r}").cast("string"))
      struct(lit(b).as("band"),
        GraftFunctions.hash64(concat_ws("|", rows: _*)).as("bh"))
    }
    sig
      .withColumn("bd", explode(array(bandStructs: _*)))
      .select(col("doc_id") +: col("bd.band").as("band") +:
        col("bd.bh").as("bh") +: sigCols: _*)
      // LAZY materialization: every consumer self-joins this frame (or
      // probes it twice), and Catalyst does NOT reuse the two sides'
      // exchanges (plan audit: 4 parquet scans of documents in
      // dedup_ngram_jaccard — the whole tokenize+shingle+md5+minhash
      // pipeline ran TWICE per query). One set of blocks, computed inside
      // the first consuming job, feeds both sides.
      .localCheckpoint(false)
  }

  /** MinHash + LSH banding: band-hash the signature 4×4, self-join on
    * (band, bandHash) to generate candidates, estimate Jaccard as the
    * fraction of matching signature components, keep est >= threshold.
    *
    * Scale: the self-join key is the band hash — tiny buckets, broadcast
    * never needed, shuffle proportional to candidate count not n².
    */
  def minhashPairs(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val banded = bandedSignatures(docs)
    val a = banded.as("a")
    val b = banded.as("b")
    val matches = (0 until MinhashSigs)
      .map(i => when(col(s"a.s$i") === col(s"b.s$i"), 1).otherwise(0))
      .reduce(_ + _)
    a.join(b,
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (matches.cast("double") / MinhashSigs).as("est_sim"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("est_sim") >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** Incremental dedup — flag NEW-batch documents that near-duplicate the
    * EXISTING corpus, without re-pairing the corpus against itself. This
    * is the production shape of dedup at 100 TB: the corpus's LSH band
    * keys are a persisted signature store (KB per million docs of
    * (band, bandHash) pairs, refreshed per ingest); each new snapshot
    * computes only ITS signatures and probes the store with a semi-join on
    * the band key. Shuffle ∝ |new batch| + |store|, never |corpus|², and
    * the corpus text is not even read once the store exists. Candidate
    * semantics are identical to [[minhashPairs]]' bucketing: a new doc is
    * flagged iff ≥1 of its 4 bands collides with any corpus band.
    *
    * `isNew` is a predicate over `doc_id` (it is re-applied to the banded
    * signatures, which carry only the id); every new doc appears in the
    * output — docs too short to shingle (< 2 tokens) have no signature and
    * report `is_dup = false`.
    */
  def incrementalFlags(docs: DataFrame, isNew: Column): DataFrame = {
    val banded = bandedSignatures(docs).withColumn("is_new", isNew)
    val store = banded.filter(!col("is_new"))
      .select("band", "bh").distinct()
    val hits = banded.filter(col("is_new"))
      .join(store, Seq("band", "bh"), "left_semi")
      .select("doc_id").distinct()
      .withColumn("hit", lit(true))
    docs.filter(isNew).select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("hit"), lit(false)).as("is_dup"))
      .orderBy("doc_id")
  }

  /** Canonical-id assignment over the near-dup graph: bounded min-label
    * propagation over the minhash pair edges. Each round, every doc takes
    * the min doc_id among itself and its neighbors; `rounds` rounds resolve
    * chains of graph diameter ≤ rounds. The round count is FIXED (not
    * run-to-convergence) so the result is a deterministic function both
    * engines compute identically; near-dup clusters are overwhelmingly
    * tiny stars, where diameter ≤ 2. At extreme diameters switch to
    * large-star/small-star (alternating min over in/out neighborhoods,
    * O(log n) rounds) — same per-round shuffle shape as here.
    *
    * Scale: each round is one (union → groupBy doc_id → min) shuffle over
    * the edge list — shuffle volume ∝ edges, never n².
    *
    * The edge list (with self-loops) is materialized ONCE
    * (`localCheckpoint`) before the rounds. Self-loops make "min over
    * self ∪ neighbors" a single join — each round references the label
    * frame exactly once, so the lineage stays LINEAR without per-round
    * checkpoints. (The naive self-union form references labels twice per
    * round: 2^rounds recompute of the whole minhash pipeline — measured
    * 60 parquet scans, 9.9 s vs 2-ish with this shape at sf0.1.) On a
    * multi-executor cluster swap `localCheckpoint` for a reliable
    * `checkpoint` dir so executor loss can't drop edge blocks — the same
    * trade GraphX makes in iterative Pregel.
    */
  def cluster(docs: DataFrame, rounds: Int = 3): DataFrame = {
    // one minhash evaluation total: pairs materialize first, nodes/edges
    // derive from the materialized blocks
    val pairs = minhashPairs(docs).select("doc_a", "doc_b").localCheckpoint()
    val nodes = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
    val edges = pairs.unionByName(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .unionByName(nodes.select(col("doc_id").as("doc_a"),
        col("doc_id").as("doc_b"))) // self-loops: min includes own label
      .localCheckpoint()
    val init = nodes.withColumn("label", col("doc_id"))
    val fin = (1 to rounds).foldLeft(init) { (lbl, _) =>
      edges.join(lbl, edges("doc_b") === lbl("doc_id"))
        .groupBy(edges("doc_a").as("doc_id"))
        .agg(min("label").as("label"))
    }
    fin.select(col("doc_id"), col("label").as("canonical_id"))
      .orderBy("doc_id")
  }

  /** Canonical-id assignment via large-star/small-star connected
    * components — the O(log n)-round, convergence-detected upgrade that
    * [[cluster]]'s fixed-3-round propagation documents for extreme
    * diameters (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14). Each round alternates:
    *   - large-star: every node u links its LARGER neighbors to
    *     m(u) = min(N(u) ∪ u) — halves long chains;
    *   - small-star: every node u links its smaller-or-self neighborhood
    *     to m(u) — collapses the partial stars.
    * Both are one (groupBy u → min) agg + one join, shuffle ∝ edges —
    * the same per-round shape as [[cluster]] — and the edge set provably
    * converges to per-component stars in O(log n) rounds regardless of
    * diameter. Convergence is DETECTED (edge-set checksum: count +
    * xxhash64 sum, both order-independent), not assumed, so the result is
    * the true component minimum and still a deterministic function of the
    * input.
    */
  /** Keep-BEST dedup: one representative per near-dup cluster, chosen by
    * quality score (tie → lowest doc_id) instead of min-id — the decision
    * a production dedup actually makes (keep-min-id deletes the cleanest
    * copy whenever its id sorted higher). Labels come from [[cluster]]
    * (∝ docs with a duplicate partner), quality from
    * [[TextAnalysis.quality]] (one map-side corpus pass); the argmax is a
    * per-cluster window over cluster-sized groups and ranks on the
    * 6-dp-rounded score so cross-engine ordering cannot drift.
    * Output: (canonical_id, kept_doc_id, kept_quality, n_members).
    */
  def keepBest(docs: DataFrame): DataFrame = {
    val labels = cluster(docs)
    val q = TextAnalysis.quality(docs)
      .select(col("doc_id"), col("quality_score"))
    val scored = labels.join(q, "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("canonical_id")
      .orderBy(col("quality_score").desc, col("doc_id"))
    val kept = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("canonical_id"), col("doc_id").as("kept_doc_id"),
        col("quality_score").as("kept_quality"))
    val members = scored.groupBy("canonical_id")
      .agg(count(lit(1)).as("n_members"))
    kept.join(members, "canonical_id").orderBy("canonical_id")
  }

  def clusterLss(docs: DataFrame): DataFrame =
    lssComponents(minhashPairs(docs).select("doc_a", "doc_b"))

  /** The LSS core over an explicit undirected edge list `(doc_a, doc_b)`.
    * Exposed for specs (ClusterSpec drives it with a diameter-5 chain the
    * fixed-3-round form under-merges).
    */
  private[graft] def lssComponents(pairs0: DataFrame): DataFrame = {
    val spark = pairs0.sparkSession
    val pairs = pairs0.select(col("doc_a"), col("doc_b")).localCheckpoint()
    val nodes = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
      .distinct().localCheckpoint()

    // symmetric, loop-free, distinct edge set — the state each round rewrites
    def canon(e: DataFrame): DataFrame = e
      .filter(col("u") =!= col("v"))
      .unionByName(e.filter(col("u") =!= col("v"))
        .select(col("v").as("u"), col("u").as("v")))
      .distinct()

    // m(u) = min(N(u) ∪ {u}); star(u, keepLarger) re-links the kept side
    // of every neighborhood to m(u)
    def minOfStar(e: DataFrame): DataFrame = e.groupBy("u")
      .agg(least(min(col("v")), first(col("u"))).as("m"))
    // Convergence checksum RIDES the state checkpoint via observe() (r15,
    // guide §5 driver overhead): the count + order-independent hash-sum
    // accumulate inside the SAME tasks that materialize the round's edge
    // set, so the separate per-round checksum aggregation (a partial +
    // final agg job over the edges) disappears. localCheckpoint(eager)
    // runs through withAction, so the Observation resolves when the
    // checkpoint job finishes.
    def checkpointWithChecksum(e: DataFrame): (DataFrame, (Long, Long)) = {
      val obs = org.apache.spark.sql.Observation(
        s"lss_${java.util.UUID.randomUUID().toString.take(8)}")
      val cp = e.observe(obs, count(lit(1)).as("n"),
        coalesce(sum(xxhash64(col("u"), col("v"))), lit(0L)).as("h"))
        .localCheckpoint()
      val m = obs.get
      (cp, (m("n").asInstanceOf[Long], m("h").asInstanceOf[Long]))
    }

    // Round-7 (the 32.2× shuffle-byte row): minOfStar is NODE-bounded —
    // one row per live u — but Catalyst's estimate tracks the edge set,
    // so past the auto-broadcast threshold every round's two star joins
    // fall to sort-merge and re-shuffle the whole edge list (measured:
    // at sf0.1 the rounds broadcast, at sf1 they SMJ — the strategy
    // transition behind the byte jump). Gate on the true node count
    // (the pagerank/kcore discipline): under the gate the star joins are
    // map-side over the cached edge checkpoints; past it a forced
    // broadcast would OOM, so the plan falls back to shuffle joins.
    val gated = nodes.count() <= graft.ops.Graph.BroadcastMaxNodes
    val hint: DataFrame => DataFrame = if (gated) broadcast else identity

    var (edges, prev) = checkpointWithChecksum(
      canon(pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))))
    var converged = prev._1 == 0L // observed count doubles as isEmpty
    var round = 0
    val maxRounds = 40 // 2^40 nodes — far past any real component
    while (!converged && round < maxRounds) {
      // ONE observed eager checkpoint per round is the round's only
      // action: afterLarge stays a LAZY checkpoint materializing inside
      // it (an extra eager checkpoint cost 3 driver round-trips per
      // round — measured 2-3× slower locally where job scheduling
      // dominates; at scale the plan is identical), and the convergence
      // checksum rides the checkpoint tasks instead of re-aggregating
      // the edge set. Unlike kcore's loop — where lazy state had NO
      // per-round action and the broadcast builds re-derived it — the
      // checkpoint action here pins each round's `edges` before the next
      // round's builds read it.
      val large = edges.filter(col("v") > col("u"))
        .join(hint(minOfStar(edges)), "u")
        .select(col("v").as("u"), col("m").as("v"))
      val afterLarge = canon(large).localCheckpoint(false)
      val small = afterLarge.filter(col("v") < col("u"))
        .join(hint(minOfStar(afterLarge)), "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(minOfStar(afterLarge)
          .select(col("u"), col("m").as("v")))
      val (cp, cur) = checkpointWithChecksum(canon(small))
      edges = cp
      converged = cur == prev
      prev = cur
      round += 1
    }

    // converged edges are per-component stars: every non-min node has the
    // component min among its neighbors; isolated nodes label themselves
    val neighborMin = edges.groupBy(col("u").as("doc_id"))
      .agg(min(col("v")).as("nmin"))
    nodes.join(neighborMin, Seq("doc_id"), "left")
      .select(col("doc_id"),
        least(coalesce(col("nmin"), col("doc_id")), col("doc_id"))
          .as("canonical_id"))
      .orderBy("doc_id")
  }

  /** 64-bit fingerprints (round 11; was 48). The pigeonhole recall
    * guarantee comes from the block COUNT, but block-key WIDTH bounds the
    * random collision floor: a fixed b-bit key admits ~keys·C(n,2)/2^b
    * chance-collision candidates — quadratic in the corpus with a 1/2^b
    * coefficient. The round-11 PairAudit measured that tail directly
    * (1.13M cross-replica pairs at 500k docs under 12-bit bands; 16-bit
    * bands cut it 16×); round 12 made the blocking RIDE the corpus size
    * (see [[SimhashBlockLadder]]) so the floor is controlled at any n.
    * 64 bits is the widest fp one BIGINT carries in both engines.
    */
  val SimhashBits = 64

  /** SimHash fingerprints (64-bit) over the token multiset: explode tokens,
    * then ONE hash aggregate where each sum packs FOUR per-bit set-counts
    * into 16-bit lanes of a long (16 sums + a count instead of 64 signed
    * sums — 4× fewer agg buffers and generated updates). Bit j of the
    * fingerprint is set iff 2*count_set(j) > n, identical to the classic
    * signed-sum > 0 form. Lane-safe for documents up to 65,535 tokens.
    * Bit 63's addend is Long.MinValue; the fold wraps into the intended
    * packed pattern under non-ANSI arithmetic, and the oracle's BIGINT
    * sum does the same.
    */
  def simhashFingerprints(docs: DataFrame): DataFrame = {
    // gated PINNED spread — the un-numbered repartition was
    // AQE-coalescible to 1 task at bench sizes (see minhashSignatures)
    val toks = graft.core.Parallelism.spread(docs, col("doc_id"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .withColumn("th", GraftFunctions.hash64(col("tok")))
    val laneSums = (0 until SimhashBits / 4).map { g =>
      val lanes = (0 until 4)
        .map(k => s"shiftleft(shiftright(th, ${4 * g + k}) & 1, ${16 * k})")
        .mkString(" + ")
      sum(expr(lanes)).as(s"p$g")
    }
    val agg = toks.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), laneSums: _*)
    val fp = (0 until SimhashBits).map { j =>
      val n1 = expr(s"shiftright(p${j / 4}, ${16 * (j % 4)}) & 65535")
      when(n1 * 2 > col("n"), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    agg.select(col("doc_id"), fp.as("fp"))
  }

  /** Pigeonhole hamming radius the blocking is exact for: any pair within
    * hamming [[SimhashMaxHamming]] differs in at most that many blocks,
    * so it agrees EXACTLY on at least `blocks - maxHamming` blocks — and
    * one of the enumerated block combinations below is a shared key.
    * Recall is 1.0 by construction at EVERY rung of the ladder, which is
    * what lets the adaptive rule change the blocking without changing the
    * output (the oracle mirrors the rule, and a brute-force gate in
    * DedupSimhashSpec proves each rung complete).
    */
  val SimhashMaxHamming = 3

  /** Block-count ladder for the combinatorial blocking (Manku, Jain &
    * Sarma, WWW'07 §3 — the permuted-table construction, expressed as
    * block subsets): splitting the 64-bit fp into B blocks and keying
    * every (B−k)-subset gives C(B,k) keys of width 64·(B−k)/B bits.
    * More blocks = more keys but exponentially wider keys, so the
    * CHANCE-collision floor (the one real quadratic round-11's PairAudit
    * found: fixed 4×16 banding has floor ~4·C(n,2)/2¹⁶) drops from
    * 2⁻¹⁶ to 2⁻⁴⁰ per key at the B=8 rung.
    */
  private[graft] val SimhashBlockLadder = Seq(4, 8)

  /** Expected chance candidates PER DOC the rule holds the blocking to
    * UNDER THE UNIFORM-KEY MODEL. Set to 1 (not, say, 16) because real
    * simhash fingerprints are far from uniform — correlated bit biases
    * from the shared vocabulary concentrate keys — and the measured
    * excess at 50k docs was ~24× the uniform floor (B=4 emitted 3.61M
    * candidates where the model predicts ~150k; forcing B=8 cut them
    * 48.8× to 74k, zeroed the cross-replica floor, and kept every one of
    * the 8,710 true hamming≤3 pairs — PLANS.md round-12). The tight
    * target is the margin for that non-uniformity.
    */
  private[graft] val SimhashTargetPerDoc = 1L

  /** Smallest ladder rung whose chance floor is within target at corpus
    * size `n`: combos(B)·n ≤ 2^width(B)·target (integer-only — mirrors
    * into the oracle as a CASE on count(*)). B=4 (4 keys × 16 bits, the
    * historical banding) holds to n = 2¹⁴ = 16,384; B=8 (56 keys × 40
    * bits) to ~2·10¹⁰ docs — past that the next rung is a WIDER
    * fingerprint (two 64-bit lanes), not more blocks of this one.
    */
  def simhashNumBlocks(n: Long): Int =
    SimhashBlockLadder.find { b =>
      val width = SimhashBits * (b - SimhashMaxHamming) / b
      val combos = (0 until b).combinations(b - SimhashMaxHamming).size
      // combos·n ≤ 2^width·target, kept in BigInt: 2^40·16 overflows no
      // long here, but the form should survive ladder edits
      BigInt(combos) * BigInt(n) <=
        (BigInt(1) << width) * BigInt(SimhashTargetPerDoc)
    }.getOrElse(SimhashBlockLadder.last)

  /** The C(B, B−k) combination keys for a B-block split of `fp`: each key
    * concatenates its combination's blocks (low block in the low bits).
    * For B=4, k=3 this degenerates to exactly the historical 4×16-bit
    * banding (each "combination" is one block).
    */
  private def simhashComboKeys(blocks: Int): Seq[Column] = {
    val w = SimhashBits / blocks
    val mask = (1L << w) - 1
    (0 until blocks).combinations(blocks - SimhashMaxHamming).toSeq.map {
      combo =>
        combo.zipWithIndex.map { case (b, i) =>
          shiftleft(expr(s"shiftright(fp, ${b * w}) & $mask"), i * w)
        }.reduce[Column](_ bitwiseOR _)
    }
  }

  /** SimHash blocking-collision candidates (pre-hamming-filter), exposed
    * for the same PairAudit reason as [[lshCandidates]]. `nBlocks` is a
    * [[SimhashBlockLadder]] rung: [[simhashNumBlocks]] of the corpus size,
    * or any rung a caller gates on its own.
    */
  private[graft] def simhashCandidates(docs: DataFrame,
      nBlocks: Int): DataFrame = {
    val fps = simhashFingerprints(docs)
    val banded = fps.withColumn("bd",
      explode(array(simhashComboKeys(nBlocks).zipWithIndex.map {
        case (key, ci) => struct(lit(ci).as("band"), key.as("bv"))
      }: _*)))
      .select(col("doc_id"), col("fp"),
        col("bd.band").as("band"), col("bd.bv").as("bv"))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.fp ^ b.fp)").cast("long").as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** SimHash near-dup pairs: combinatorial-blocked candidates (exact
    * recall at hamming ≤ [[SimhashMaxHamming]] by pigeonhole at every
    * ladder rung), then the hamming filter. The default 3 keeps the
    * output tracking true near-dup density instead of growing
    * quadratically (hamming<=8 emitted 247k pairs at sf0.1; <=3 emits
    * the actual duplicates). `nRows` is the corpus size the block count
    * is sized from.
    */
  def simhashPairs(docs: DataFrame, nRows: Long,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= SimhashMaxHamming,
      s"blocking is pigeonhole-exact only to hamming $SimhashMaxHamming")
    simhashCandidates(docs, simhashNumBlocks(nRows))
      .filter(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** Exact n-gram (word-bigram) Jaccard, LSH-gated — the textbook two-stage
    * near-dup pipeline: MinHash band collisions generate candidate pairs
    * (cheap, bucket-keyed), then exact set intersection verifies ONLY the
    * candidates via `array_intersect` on the per-doc shingle arrays.
    *
    * A raw inverted-index self-join on shingles is quadratic when the
    * vocabulary is small (a shingle shared by k docs emits k²/2 pairs) —
    * measured 54s at sf0.1 vs ~2s for this shape. At 100 TB the candidate
    * count tracks true-duplicate density, not corpus size².
    */
  /** Asymmetric shingle containment over the SAME LSH candidate pairs as
    * [[ngramJaccardPairs]]: containment(A in B) = |A∩B| / |A|. Jaccard
    * misses subset duplication (a short doc quoted whole inside a long
    * one scores low symmetric overlap but ~1.0 containment) — this is the
    * gate RefinedWeb-style pipelines use for quote/boilerplate absorption.
    * Same scale shape as the Jaccard verify: LSH band join proposes,
    * exact array intersection disposes; scores rounded BEFORE the
    * threshold compare so the keep decision is engine-exact.
    */
  /** The MinHash-LSH candidate stage shared by [[containmentPairs]] and
    * [[ngramJaccardPairs]]: band-collision self-join, distinct pairs.
    * Public to the package so tools/PairAudit can count the CANDIDATE
    * volume directly — the quantity byte audits miss when a block
    * explodes inside a join (PLANS.md round-10 lessons).
    */
  private[graft] def lshCandidates(docs: DataFrame): DataFrame = {
    val banded = bandedSignatures(docs)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  def containmentPairs(docs: DataFrame, threshold: Double = 0.7): DataFrame = {
    // lazy-materialized: the shingle frame feeds BOTH verify join-backs
    // and Catalyst does not reuse their exchanges (plan audit: the
    // tokenize+shingle pass ran twice per query without this)
    val sh = withTokens(docs).select(col("doc_id"),
      bigramShingles(col("t")).as("shingles"))
      .localCheckpoint(false)
    val cand = lshCandidates(docs)
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("cont_a_in_b",
        round(col("inter").cast("double") / size(col("sa")), 6))
      .withColumn("cont_b_in_a",
        round(col("inter").cast("double") / size(col("sb")), 6))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
      .select("doc_a", "doc_b", "cont_a_in_b", "cont_b_in_a")
      .orderBy("doc_a", "doc_b")
  }

  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    // lazy-materialized: the shingle frame feeds BOTH verify join-backs
    // and Catalyst does not reuse their exchanges (plan audit: the
    // tokenize+shingle pass ran twice per query without this)
    val sh = withTokens(docs).select(col("doc_id"),
      bigramShingles(col("t")).as("shingles"))
      .localCheckpoint(false)
    val cand = lshCandidates(docs)
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** EXACT set-similarity join by prefix filtering (the AllPairs/PPJoin
    * family, Bayardo et al. WWW'07) — the deterministic complement to the
    * MinHash LSH pipeline above: LSH candidates are probabilistic (recall
    * measured by `dedup_minhash_recall`); the prefix filter is provably
    * COMPLETE for the threshold, so this is the variant to reach for when
    * a missed duplicate is a correctness bug, not a recall point.
    *
    * Each document's distinct bigram-shingle set is ordered by global
    * rarity (df asc, shingle asc — one total order shared by the whole
    * corpus); a pair with Jaccard ≥ t must share a shingle within the
    * first |s| − ⌈t·|s|⌉ + 1 shingles of BOTH sets under that order
    * (prefix-filter theorem: if the smallest shared shingle w sat outside
    * a's prefix, at most ⌈t·|a|⌉ − 1 of a's shingles are ≥ w, yet all
    * shared shingles are ≥ w, so |a∩b| < t·|a| ≤ t·|a∪b| — contradiction).
    * Candidates therefore join only on PREFIX shingles; verification is an
    * exact array intersection inside the joined row.
    *
    * Scale: the candidate join keys on individual rare shingles — shuffle
    * ∝ Σ prefix lengths ≈ (1−t)·corpus shingle mass, and bucket skew is
    * bounded *by construction*: the global order puts high-df boilerplate
    * shingles at array ends, so they rarely enter prefixes. df itself is
    * one map-side-combined aggregate; the per-doc sort is in-task over the
    * doc's own shingles. No signature tuning, no bands, no recall knob.
    */
  def setSimilarityJoin(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    // No size(sh) > 0 filter here, deliberately twice over: (a) it is
    // semantically redundant — an empty shingle set produces no tok rows,
    // so it can never enter a candidate pair nor the output; (b) a Filter
    // above this Project gets predicate-pushdown-SUBSTITUTED below it,
    // re-inlining the token split into the shingle lambda (the documented
    // O(tokens²) hazard in bigramShingles' scaladoc) — measured 6.3 s of
    // redundant regex splits at sf0.1 for a filter that removes nothing.
    //
    // Everything past this point runs on 64-BIT SHINGLE HASHES, not the
    // shingle strings: the Jaccard filter ends up fused into the verify
    // join's condition, where Catalyst evaluates the array intersection
    // up to 3× per candidate row — on string sets that cost 23 s at
    // sf0.1's 3.5M candidates; on primitive long sets it is ~20× cheaper.
    // |hashed ∩| = |string ∩| up to 2⁻⁶⁴ collisions (same trade the
    // MinHash family above already makes for its band keys).
    val sh = withTokens(docs)
      .select(col("doc_id"), bigramShingles(col("t")).as("shs"))
      .select(col("doc_id"),
        transform(col("shs"), g => GraftFunctions.hash64(g)).as("sh"))
      .localCheckpoint(false) // feeds tok AND both verify join-backs
    val tok = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    val dfr = tok.groupBy("g").agg(count(lit(1)).as("df"))
    // Per-doc shingles in global (df, shingle) order; prefix length
    // |s| − ⌈t·|s|⌉ + 1. The candidate join is SLIM — (doc_id, |s|,
    // position, shingle) only, never the arrays: the first cut of this
    // operator carried both documents' shingle arrays through the
    // exploded join and spent 94 s at sf0.1 shuffling them; the slim
    // form with identical output runs the same corpus in ~6 s.
    // The per-doc aggregation's exchange is made EXPLICIT with a pinned
    // partition count: hash(doc_id, N) satisfies the groupBy's required
    // distribution, so this is the SAME single exchange the groupBy would
    // plan — but AQE cannot coalesce a user-pinned repartition, so the
    // candidate-generation map side below stays N-wide. Measured at
    // sf0.1/local[32]: AQE coalesced the agg output to 3 partitions and
    // the 100 MB candidate exchange ran 3-wide (2.5 s of a 4.6 s wall);
    // pinned, the same stage runs 32-wide. N tracks
    // spark.sql.shuffle.partitions, so cluster deployments scale it with
    // their core count rather than inheriting a local constant.
    val sorted = tok.join(dfr, "g")
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col("doc_id"))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("g")))).as("ord"))
      .withColumn("sorted", transform(col("ord"), x => x("g")))
      .withColumn("n", size(col("sorted")))
      .withColumn("plen",
        (col("n") - ceil(lit(threshold) * col("n")).cast("int") + 1))
    val pe = sorted
      .select(col("doc_id"), col("n"),
        posexplode(slice(col("sorted"), lit(1), col("plen"))))
      // (n, pos) PACKED into one long (n < 2³¹ structurally — it is an
      // array size; pos < n): narrows the checkpoint/broadcast row and,
      // downstream, lets the candidate aggregation take min() over ONE
      // packed column per side instead of two (n is constant within a
      // (doc_a, doc_b) group, so min(n·2³²+pos) = n·2³²+min(pos) exactly).
      .select(col("doc_id"),
        (shiftleft(col("n").cast("long"), 32) + col("pos")).as("npos"),
        col("col").as("pg"))
      // both sides of the self-join read this frame — one materialization
      // instead of two sorted-array builds. It inherits the pinned N-wide
      // doc_id partitioning from `sorted`, keeping doc-id runs intact (a
      // hash(pg) re-spread was measured 2.5× WORSE on shuffle bytes: the
      // candidate exchange compresses doc-clustered rows 103 MB vs 250 MB
      // scattered).
      .localCheckpoint(false)
    // Candidate pruning stack (all provably lossless at threshold t):
    //  - length filter IN the join condition: J ≥ t ⟹ |a∩b| ≥ t·|a∪b|
    //    ⟹ t·|a| ≤ |b| and t·|b| ≤ |a|;
    //  - position filter on the SMALLEST shared prefix shingle w (the
    //    completeness proof puts w in both prefixes, and the global sort
    //    makes "smallest" = min position on both sides simultaneously):
    //    every shared shingle is ≥ w, so |a∩b| ≤ min(|a|−pa, |b|−pb)
    //    (0-based pa, pb), which must reach ⌈t/(1+t)·(|a|+|b|)⌉.
    // The position filter ALSO runs per-occurrence INSIDE the join
    // condition (r15, guide §3 prune-before-shuffle): lossless because a
    // true pair's SMALLEST shared shingle w has |a∩b| ≤ min(na−pa_w,
    // nb−pb_w) and |a∩b| ≥ ⌈t/(1+t)·(na+nb)⌉, so w's own occurrence
    // always passes — dropping other occurrences can only raise the
    // post-agg min positions, which tightens a bound the true pair still
    // satisfies at w. Occurrences pruned here never enter the candidate
    // groupBy exchange — the query's dominant shuffle.
    // decoded views of the packed (n, pos) column, per join side
    def nOf(side: String) = shiftright(col(s"$side.npos"), 32)
    def posOf(side: String) =
      col(s"$side.npos").bitwiseAND(lit(4294967295L))
    val posBound = ceil(lit(threshold / (1.0 + threshold)) *
      (nOf("a") + nOf("b")))
    // The candidate aggregation rides NARROW packed columns end to end
    // (§2.3 shuffle fewer bytes): the grouping key is the packPair'd
    // (doc_a, doc_b) — one long instead of two, guarded loud against ids
    // past 2³¹ — and each side's min() runs over the packed (n, pos)
    // long. The exchange row shrinks 6 longs → 3 and both hash-agg sides
    // hash/compare one long key; this exchange was the query's dominant
    // cost (measured 65 MB / ~48 s of task time across its two stages at
    // sf0.1).
    val cand = pe.as("a").join(pe.as("b"),
        col("a.pg") === col("b.pg") && col("a.doc_id") < col("b.doc_id") &&
          nOf("b") >= lit(threshold) * nOf("a") &&
          nOf("a") >= lit(threshold) * nOf("b") &&
          least(nOf("a") - posOf("a"), nOf("b") - posOf("b")) >= posBound)
      .groupBy(graft.ops.Graph.packPair(col("a.doc_id"), col("b.doc_id"))
        .as("pk"))
      .agg(min(col("a.npos")).as("pka"), min(col("b.npos")).as("pkb"))
      .select(shiftright(col("pk"), 32).as("doc_a"),
        col("pk").bitwiseAND(lit(4294967295L)).as("doc_b"),
        shiftright(col("pka"), 32).as("na"),
        col("pka").bitwiseAND(lit(4294967295L)).as("pa"),
        shiftright(col("pkb"), 32).as("nb"),
        col("pkb").bitwiseAND(lit(4294967295L)).as("pb"))
      .filter(least(col("na") - col("pa"), col("nb") - col("pb")) >=
        ceil(lit(threshold / (1.0 + threshold)) * (col("na") + col("nb"))))
      .select("doc_a", "doc_b", "na", "nb")
    // The threshold test uses the join-fusion-friendly form
    //   inter·(1+t) ≥ t·(na+nb)   (⟺ inter/(na+nb−inter) ≥ t; exact in
    // double for t = 0.5 since 1.5·k and 0.5·k are exact for k < 2⁵²) so
    // the condition Catalyst fuses into the verify join references the
    // array intersection ONCE — filtering on the derived jaccard column
    // instead re-inlined the intersection 3× per candidate row.
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sa")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sb")), "doc_b")
      .filter(size(array_intersect(col("sa"), col("sb"))).cast("double") *
        lit(1.0 + threshold) >= lit(threshold) * (col("na") + col("nb")))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")), 6))
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }
}
