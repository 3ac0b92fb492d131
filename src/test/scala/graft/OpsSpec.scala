package graft

import org.apache.spark.sql.functions._

import graft.dims.Generators
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

class GeneratorsSpec extends SparkSpec {

  test("time dim: exactly 1440 minute rows, keys HHMM00") {
    val td = Generators.timeDim(spark)
    assert(td.count() === 1440)
    val last = td.orderBy(desc("time_key")).limit(1).collect().head
    assert(last.getLong(0) === 235900L)
  }

  test("date dim: end-inclusive range with correct weekday names") {
    val dd = Generators.dateDim(spark, "2024-01-01", "2024-01-07")
    assert(dd.count() === 7) // inclusive both ends, like pandas date_range
    val first = dd.orderBy("date_key").limit(1).collect().head
    assert(first.getLong(0) === 20240101L)
    assert(first.getString(5) === "Monday")
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over a lazy dog"),   // near dup of 1
    (4L, "completely different content about spark engines")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical text under the min doc_id") {
    val out = Dedup.exact(docs).collect()
    assert(out.length === 3)
    val dup = out.find(_.getLong(2) === 2L).get
    assert(dup.getLong(1) === 1L) // canonical = min(doc_id)
  }

  test("minhash: identical docs estimate sim 1.0; near dups are found") {
    val pairs = Dedup.minhashPairs(docs, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs.exists { case (a, b, s) => a == 1L && b == 2L && s == 1.0 })
    assert(pairs.exists { case (a, b, _) => a != 4L && b != 4L })
    assert(!pairs.exists { case (a, b, _) => a == 4L || b == 4L })
  }

  test("ngram jaccard: exact pair at 1.0, distinct doc excluded") {
    val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 2L && j == 1.0 })
    assert(!pairs.exists { case (a, b, _) => a == 4L || b == 4L })
  }

  test("simhash: identical docs have hamming 0") {
    val pairs = Dedup.simhashPairs(docs, docs.count(), maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.contains((1L, 2L)))
  }

  test("simhash block ladder: rule switches at the integer occupancy bound") {
    // B=4 holds exactly to combos·n ≤ 2^width·target: 4n ≤ 2^16·1 ⇒ 2^14
    assert(Dedup.simhashNumBlocks(1L) === 4)
    assert(Dedup.simhashNumBlocks(1L << 14) === 4)
    assert(Dedup.simhashNumBlocks((1L << 14) + 1) === 8)
    // the B=8 rung (56 keys × 40 bits) holds to 2^40/56 ≈ 2·10^10 docs
    assert(Dedup.simhashNumBlocks(1L << 34) === 8)
    // past its own bound the rule pins at the last rung (the next step is
    // a wider fingerprint, not more blocks of this one)
    assert(Dedup.simhashNumBlocks(1L << 40) === 8)
  }

  test("simhash blocking is COMPLETE at every ladder rung (brute-force gate)") {
    // hamming<=3 pairs agree on >= B-3 blocks, so every rung's combination
    // keys must recover exactly the brute-force pair set — this is what
    // lets the adaptive rule change the blocking without changing results
    val corpus = graft.core.Tables.read(spark, sf, "documents")
      .select("doc_id", "text")
    val fps = Dedup.simhashFingerprints(corpus).localCheckpoint()
    val brute = fps.as("a")
      .join(fps.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("bit_count(a.fp ^ b.fp)").cast("long").as("hamming"))
      .filter(col("hamming") <= Dedup.SimhashMaxHamming)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(brute.nonEmpty, "fixture corpus must contain near-dups")
    for (b <- Dedup.SimhashBlockLadder) {
      val blocked = Dedup.simhashCandidates(corpus, b)
        .filter(col("hamming") <= Dedup.SimhashMaxHamming)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(blocked === brute, s"rung B=$b lost or invented pairs")
    }
  }

  /** Driver-side brute force: distinct bigram-shingle Jaccard over every
    * pair — the reference implementation the prefix filter must match.
    */
  private def bruteSetSim(rows: Seq[(Long, String)], t: Double) = {
    def shingles(s: String): Set[String] = {
      val tk = s.toLowerCase.trim.split("\\s+").toSeq
      if (tk.length < 2) Set.empty
      else tk.sliding(2).map(_.mkString(" ")).toSet
    }
    val sets = rows.map { case (id, s) => id -> shingles(s) }
    (for {
      (a, sa) <- sets; (b, sb) <- sets
      if a < b && sa.nonEmpty && sb.nonEmpty
      inter = (sa & sb).size
      j = inter.toDouble / (sa.size + sb.size - inter)
      if j >= t
    } yield (a, b, BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble)).toSet
  }

  test("set-similarity join: prefix filter loses no pair (sf0.001 corpus)") {
    import spark.implicits._
    val docsSf = graft.core.Tables.read(spark, sf, "documents")
    val expected = bruteSetSim(
      docsSf.select("doc_id", "text").as[(Long, String)].collect().toSeq, 0.5)
    val got = Dedup.setSimilarityJoin(docsSf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expected) // COMPLETE: every true pair, exact scores
  }

  test("set-similarity join: adversarial corpus where the smallest shared " +
    "shingle is high-df") {
    import spark.implicits._
    // 10 boilerplate docs make "x1 x2 .. x9" shingles high-df; docs 100/101
    // are near-dups whose ONLY rare content is shared; 102 shares just
    // boilerplate with them (J < 0.5). The smallest shared shingle of
    // (100,101) under (df, shingle) order must survive prefix truncation.
    val boiler = "x1 x2 x3 x4 x5 x6 x7 x8 x9"
    val base = (1L to 10L).map(i => (i, s"$boiler filler$i"))
    val adv = Seq(
      (100L, s"rare alpha beta gamma delta $boiler"),
      (101L, s"rare alpha beta gamma delta epsilon $boiler"),
      (102L, boiler),
      (103L, "entirely unrelated words about catalyst optimizer rules"))
    val df = (base ++ adv).toDF("doc_id", "text")
    val expected = bruteSetSim(base ++ adv, 0.5)
    val got = Dedup.setSimilarityJoin(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expected)
    assert(got.exists { case (a, b, _) => a == 100L && b == 101L })
    assert(!got.exists { case (a, b, _) => b == 103L || a == 103L })
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine: identical vectors 1.0, orthogonal 0.0") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(3.0f, 4.0f), Array(3.0f, 4.0f))
    ).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b")).as("c"))
      .as[Double].collect().toSeq
    assert(got === Seq(1.0, 0.0, 1.0))
  }

  test("mmr re-rank demotes a near-duplicate of the top hit") {
    // query = vec 0 along e1. Vec 1 (rel .7107) and its near-clone vec 2
    // (rel .7103) beat vec 3 (rel .7071) on relevance — pure top-k ranks
    // (1, 2, 3); but sim(1,2) ≈ 1 while sim(1,3) ≈ 0.005, so at λ = 0.7
    // the clone's mmr (≈ .197) loses to the diverse vec 3 (≈ .493).
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.99f, 0.0f)),
      (2L, Array(1.0f, 0.991f, 0.0f)), // near-clone of 1
      (3L, Array(1.0f, -1.0f, 0.0f)),
      (4L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.mmrRerank(emb, queryId = 0L, nCand = 4, k = 3)
      .select("rank", "vec_id").as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 1L), (2L, 3L), (3L, 2L)))
  }

  test("mmr rank-1 is the pure-relevance argmax and scores are " +
    "monotonically non-increasing") {
    val emb = graft.core.Tables.read(spark, sf, "embeddings")
    val out = Similarity.mmrRerank(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.length === 5)
    val top1 = Similarity.bruteForceTopK(emb, nQueries = 1, k = 1)
      .collect().head.getLong(2)
    assert(out.head._2 === top1)
    // greedy invariant: each later pick's mmr cannot beat an earlier one
    out.sliding(2).foreach { case Array(a, b) => assert(a._4 >= b._4) }
  }

  test("brute-force top-k on real embeddings: self excluded, ranks dense") {
    val emb = graft.core.Tables.read(spark, sf, "embeddings")
    val out = Similarity.bruteForceTopK(emb, nQueries = 3, k = 4).collect()
    assert(out.length === 12)
    assert(out.forall(r => r.getLong(2) != r.getLong(0))) // self excluded
    val ranks = out.filter(_.get(0).toString == "0").map(_.getLong(1)).toSeq
    assert(ranks.sorted === Seq(1L, 2L, 3L, 4L))
  }

  test("seeded IVF quantizer: sampled centroids, shape intact, measurable recall") {
    val emb = graft.core.Tables.read(spark, sf, "embeddings")
    val lists = Similarity.fitIvfLists(emb, nlists = 16, seed = Some(7L))
    val out = Similarity.ivfTopK(emb, lists, nQueries = 3, k = 3,
      nlists = 16, nprobe = 2, seed = Some(7L)).collect()
    // each query yields exactly k neighbors with dense ranks, self excluded
    assert(out.length === 9)
    assert(out.forall(r => r.getLong(2) != r.getLong(0)))
    val grouped = out.groupBy(_.getLong(0))
    assert(grouped.values.forall(_.map(_.getLong(1)).sorted.toSeq ===
      Seq(1L, 2L, 3L)))
  }

  test("PQ: dense ranks, self excluded, nonzero brute-force overlap, repartition-stable") {
    val emb = graft.core.Tables.read(spark, sf, "embeddings")
    val (codebooks, codes) = Similarity.fitPq(emb)
    val pq = Similarity.pqTopK(emb, codebooks, codes, nQueries = 3, k = 5)
      .collect()
    assert(pq.length === 15)
    assert(pq.forall(r => r.getLong(2) != r.getLong(0))) // self excluded
    assert(pq.groupBy(_.getLong(0)).values
      .forall(_.map(_.getLong(1)).sorted.toSeq === (1L to 5L)))
    // ADC distances are non-negative and non-decreasing in rank
    pq.groupBy(_.getLong(0)).values.foreach { rs =>
      val d = rs.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(d.forall(_ >= 0.0) && d.sameElements(d.sorted))
    }
    // the 4-codeword codebooks are coarse, but top-5 should still overlap
    // the exact top-5 somewhere across 3 queries — a recall floor, not a
    // tight bound
    val exact = Similarity.bruteForceTopK(emb, nQueries = 3, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val hits = pq.map(r => (r.getLong(0), r.getLong(2))).count(exact)
    assert(hits > 0, s"PQ found none of the exact top-5 pairs")

    val emb7 = emb.repartition(7)
    val (codebooks7, codes7) = Similarity.fitPq(emb7)
    val again = Similarity.pqTopK(emb7, codebooks7, codes7, nQueries = 3,
        k = 5)
      .collect().map(_.toSeq)
    assert(pq.map(_.toSeq).toSeq === again.toSeq)
  }

  test("annRecall: one row per method, recall in [0,1], hits bounded by exact") {
    val emb = graft.core.Tables.read(spark, sf, "embeddings")
    val (codebooks, codes) = Similarity.fitPq(emb)
    val rows = Similarity.annRecall(emb, Similarity.fitIvfLists(emb),
        codebooks, codes, nQueries = 3, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq === Seq("ivf", "lsh", "multiprobe", "pq"))
    rows.foreach { case (m, hit, exact, recall) =>
      assert(exact === 9L, s"$m exact")
      assert(hit >= 0L && hit <= exact, s"$m hits")
      assert(math.abs(recall - hit.toDouble / exact) < 1e-6, s"$m ratio")
    }
  }

  test("LSH bucket is deterministic and bounded") {
    val emb = graft.core.Tables.read(spark, sf, "embeddings").limit(50)
    val dims = Similarity.embDims(emb)
    assert(dims === 64)
    val b1 = emb.select(Similarity.lshBucket(col("embedding"), 4, dims).as("b"))
      .as[Long].collect().toSeq
    val b2 = emb.select(Similarity.lshBucket(col("embedding"), 4, dims).as("b"))
      .as[Long].collect().toSeq
    assert(b1 === b2)
    assert(b1.forall(b => b >= 0 && b < 16))
  }

  test("embDims refuses an empty corpus by name") {
    val empty = graft.core.Tables.read(spark, sf, "embeddings").limit(0)
    val e = intercept[IllegalArgumentException](Similarity.embDims(empty))
    assert(e.getMessage.contains(
      "embDims needs a non-empty embedding corpus: no vector to size"))
  }

  test("banded near-dups are a superset of any single band's pairs") {
    val emb = graft.core.Tables.read(spark, sf, "embeddings")
    val banded = Similarity.embeddingNearDupsBanded(emb,
      threshold = 0.35, bands = 4, bitsPerBand = 6)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every banded pair is symmetric-ordered and above threshold by construction;
    // the OR over 4 bands must find at least as much as one 6-bit blocking key
    val dims = Similarity.embDims(emb)
    val oneBand = emb.select(col("vec_id"),
        Similarity.lshBucket(col("embedding"), 6, dims, Some(0)).as("bh"))
    val single = oneBand.as("x").join(oneBand.as("y"),
        col("x.bh") === col("y.bh") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id"), col("y.vec_id"))
      .join(emb.as("ea"), col("x.vec_id") === col("ea.vec_id"))
      .join(emb.as("eb"), col("y.vec_id") === col("eb.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        Similarity.cosine(col("ea.embedding"), col("eb.embedding")).as("c"))
      .filter(col("c") >= 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(single.subsetOf(banded),
      s"missing pairs from band 0: ${single.diff(banded).take(5)}")
  }

  test("multi-probe LSH: strict superset of single-probe at the same bits") {
    val emb = graft.core.Tables.read(spark, sf, "embeddings")
    // k beyond the corpus size so neither side truncates — the probe
    // shell's extra candidates can then never evict an own-bucket one
    val k = emb.count().toInt + 1
    val mp = Similarity.multiProbeTopK(emb, nQueries = 3, k = k, bits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val sp = Similarity.lshTopK(emb, nQueries = 3, k = k, bits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(sp.subsetOf(mp),
      s"single-probe pairs missing: ${sp.diff(mp).take(5)}")
    assert(mp.size > sp.size, "probe shell found no extra candidates")
  }

  test("adaptiveBitsPerBand: integer rule, floor 6, exact power edges") {
    val f = Similarity.adaptiveBitsPerBand(_: Long)
    assert(f(1L) === 6)
    assert(f(500L) === 6)    // sf0.001/0.01 corpus
    assert(f(2000L) === 6)   // sf0.1 corpus
    assert(f(4096L) === 6)   // 2^6 * 64 exactly — must NOT tip to 7
    assert(f(4097L) === 7)
    assert(f(20000L) === 9)  // sf1 corpus
    assert(f(1L << 30) === 24)
  }

  test("adaptive near-dups == fixed 6-bit banded at sub-4096 corpus sizes") {
    val emb = graft.core.Tables.read(spark, sf, "embeddings")
    assert(emb.count() <= 4096L)
    val a = Similarity.embeddingNearDupsAdaptive(emb, emb.count())
      .collect().map(_.toSeq)
    val b = Similarity.embeddingNearDupsBanded(emb,
      threshold = 0.35, bands = 4, bitsPerBand = 6).collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }
}

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("token counts: whitespace vs subword") {
    val df = Seq((1L, "Hello, world 42!")).toDF("doc_id", "text")
    val row = TextAnalysis.tokenCounts(df).collect().head
    assert(row.getLong(1) === 3L) // hello, | world | 42!
    assert(row.getLong(2) === 6L) // hello , world 4 2 !
  }

  test("quality: ratios on a known doc") {
    val df = Seq((1L, "the cat sat on the mat")).toDF("doc_id", "text")
    val r = TextAnalysis.quality(df).collect().head
    assert(r.getLong(1) === 22L) // n_chars
    assert(r.getLong(2) === 6L)  // n_tokens
    assert(r.getDouble(4) === 0.5) // stopword ratio: the, on, the / 6
  }

  test("repetition: duplicate-gram ppm on a looping doc, short-doc guard") {
    val df = Seq(
      (1L, "a b a b a b"),   // bigrams 5/2 distinct, trigrams 4/2
      (2L, "x y"),           // one bigram, no trigram
      (3L, "z")              // no grams at all
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.repetition(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(rows === Seq(
      (1L, 5L, 4L, 600000L, 500000L),
      (2L, 1L, 0L, 0L, 0L),
      (3L, 0L, 0L, 0L, 0L)))
  }

  test("langid: english stopwords dominate") {
    val df = Seq(
      (1L, "the cat is on the mat with a hat", "en"),
      (2L, "der hund ist nicht mit der katze", "de")
    ).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langId(df).collect()
    assert(out(0).getString(1) === "en")
    assert(out(1).getString(1) === "de")
  }

  test("fingerprints: stable per content, different across contents") {
    val df = Seq((1L, "abcdefghij"), (2L, "abcdefghij"), (3L, "zzzzzzzzzz"))
      .toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprints(df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(fp(0)._2 === fp(1)._2 && fp(0)._3 === fp(1)._3)
    assert(fp(0)._2 !== fp(2)._2)
  }

  test("bm25: exactly matches a driver-side reimplementation at sf0.001") {
    import spark.implicits._
    val docsSf = graft.core.Tables.read(spark, sf, "documents")
    val corpus = docsSf.select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    val toks = corpus.map { case (id, t) =>
      id -> t.toLowerCase.trim.split("\\s+").toSeq }
    val n = toks.size
    val dl = toks.map { case (id, t) => id -> t.size }.toMap
    val avgdl = dl.values.map(_.toLong).sum.toDouble / n
    val dfm = toks.flatMap { case (id, t) => t.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (w, xs) => w -> xs.size }
    val q = dfm.toSeq.sortBy { case (w, d) => (-d, w) }.take(3).map(_._1)
    val k1 = 1.2; val b = 0.75
    // the exact expression-tree order of TextAnalysis.bm25TopK, so the
    // doubles are bit-identical, not merely close
    val scored = toks.flatMap { case (id, t) =>
      val ws = q.map { w =>
        val tf = t.count(_ == w).toDouble
        if (tf == 0) None
        else {
          val d = dfm(w).toDouble
          Some(math.log((n - d + 0.5) / (d + 0.5) + 1.0) *
            (tf * (k1 + 1.0)) /
            (tf + k1 * ((1.0 - b) + b * dl(id).toDouble / avgdl)))
        }
      }
      val m = ws.count(_.isDefined)
      if (m == 0) None
      else {
        val s = ws.map(_.getOrElse(0.0)).reduce(_ + _)
        Some((id, BigDecimal(s)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, m.toLong))
      }
    }
    val expected = scored.sortBy { case (id, s, _) => (-s, id) }.take(20)
    val got = TextAnalysis.bm25TopK(docsSf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got === expected)
  }

  test("bm25: a doc matching more query terms outscores a one-term doc") {
    import spark.implicits._
    // qterms become (alpha, beta, gamma) by df; doc 1 matches all three,
    // doc 2 one, doc 3 none (absent from output)
    val df = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha filler1 filler2"),
      (3L, "unrelated words entirely"),
      (4L, "alpha beta other"),
      (5L, "alpha beta gamma alpha beta gamma")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(df).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val byId = out.map(r => r._1 -> r).toMap
    assert(!byId.contains(3L))
    assert(byId(1L)._3 === 3L && byId(2L)._3 === 1L)
    assert(byId(1L)._2 > byId(2L)._2)
  }
}

class MultimodalSpec extends SparkSpec {
  import graft.ops.MediaCodec

  private def bytes(hex: String): Array[Byte] =
    hex.replaceAll("\\s", "").grouped(2)
      .map(Integer.parseInt(_, 16).toByte).toArray

  test("PNG IHDR: big-endian 32-bit dims straight from the header") {
    // 800x600, minimal IHDR
    val png = bytes("89504E470D0A1A0A" + "0000000D49484452" +
      "00000320" + "00000258" + "0806000000DEADBEEF")
    assert(MediaCodec.parseDims(png) === Some(("png", 800, 600)))
    // truncated mid-IHDR → unrecognized
    assert(MediaCodec.parseDims(png.take(20)) === None)
  }

  test("JPEG: marker scan skips variable segments to the first SOF") {
    // SOI, APP0(16B), COM("hi!", 5B), SOF0 with height=0x0101=257,
    // width=0x0202=514
    val jpg = bytes("FFD8" + "FFE000104A46494600010100004800480000" +
      "FFFE0005686921" + "FFC000110801010202" + "03012200021101031101" +
      "FFD9")
    assert(MediaCodec.parseDims(jpg) === Some(("jpeg", 514, 257)))
    // no SOF before the bytes run out → None, not a crash
    assert(MediaCodec.parseDims(bytes("FFD8FFFE0005686921")) === None)
    // lost marker sync → None
    assert(MediaCodec.parseDims(bytes("FFD800FF")) === None)
  }

  test("GIF: little-endian 16-bit logical screen descriptor") {
    val gif = bytes("474946383961" + "2003" + "5802" + "F70000" + "3B")
    assert(MediaCodec.parseDims(gif) === Some(("gif", 0x0320, 0x0258)))
    assert(MediaCodec.parseDims("GIF88a??".getBytes) === None)
  }

  test("garbage and empty payloads decode to null, not errors") {
    assert(MediaCodec.parseDims(Array.emptyByteArray) === None)
    assert(MediaCodec.parseDims("plain text".getBytes) === None)
  }

  test("WAV: chunk walk finds fmt/data past unknown chunks, pads odd sizes") {
    // RIFF/WAVE with an ODD-size junk chunk ("junk", 3 bytes + pad) before
    // fmt: mono 8 kHz 16-bit, blockAlign 2, 8 samples (16 data bytes)
    val wav = bytes("52494646" + "3B000000" + "57415645" +
      "6A756E6B" + "03000000" + "414243" + "00" + // odd chunk + pad byte
      "666D7420" + "10000000" + "0100" + "0100" + "401F0000" +
      "803E0000" + "0200" + "1000" +
      "64617461" + "10000000" + "00112233445566778899AABBCCDDEEFF")
    assert(MediaCodec.parseAudio(wav) ===
      Some((1, 8000, 16, 8L, 16L * 1000 / 16000)))
    // without odd-size padding the walk would land mid-chunk and miss fmt
    assert(MediaCodec.parseAudio(wav.take(30)) === None) // truncated
    assert(MediaCodec.parseAudio("RIFFxxxxDATA".getBytes) === None)
    assert(MediaCodec.parseAudio(Array.emptyByteArray) === None)
    // zero block-align must not divide by zero
    val zeroBa = bytes("52494646" + "28000000" + "57415645" +
      "666D7420" + "10000000" + "0100" + "0100" + "401F0000" +
      "803E0000" + "0000" + "1000" + "64617461" + "04000000" + "AABBCCDD")
    assert(MediaCodec.parseAudio(zeroBa) === None)
  }

  test("WAV: hostile chunk sizes terminate with None, never loop or fault") {
    // size 0xFFFFFFF8 truncates to Int -8: the old Int walk advanced by
    // zero (infinite loop on an executor thread); the Long walk overruns
    // the buffer and exits. Pad to >= 44 bytes so the probe runs.
    val huge = bytes("52494646" + "30000000" + "57415645" +
      "6A756E6B" + "F8FFFFFF" + "00" * 32)
    assert(MediaCodec.parseAudio(huge) === None)
    // size 0xFFFFFFFF (Int -1): old walk advanced by 8 + (-1) + 1 = 8
    // but indexed p(i+4) with a drifting offset; must also be None.
    val maxSz = bytes("52494646" + "30000000" + "57415645" +
      "6A756E6B" + "FFFFFFFF" + "00" * 32)
    assert(MediaCodec.parseAudio(maxSz) === None)
    // a valid header whose data chunk DECLARES more bytes than the buffer
    // holds (stream-truncated upload) still yields the fmt-derived meta —
    // the trailing-data-chunk allowance.
    val truncData = bytes("52494646" + "28000000" + "57415645" +
      "666D7420" + "10000000" + "0100" + "0100" + "401F0000" +
      "803E0000" + "0200" + "1000" + "64617461" + "10000000" + "AABB")
    assert(MediaCodec.parseAudio(truncData) ===
      Some((1, 8000, 16, 8L, 1L)))
  }

  test("audio constructor/parser roundtrip on documents") {
    val docs = graft.core.Tables.read(spark, sf, "documents").limit(30)
    val out = Multimodal.decodedAudio(docs).collect()
    assert(out.length === 30)
    // every payload parsed (no nulls) with parameters in the built ranges
    assert(out.forall { r =>
      Seq(1, 2).contains(r.getInt(1)) &&
        Seq(8000, 16000, 44100).contains(r.getInt(2)) &&
        Seq(8, 16).contains(r.getInt(3)) &&
        r.getLong(4) >= 1 && r.getLong(4) <= 1000
    })
  }

  test("expression path and mapPartitions path agree on real payloads") {
    val docs = graft.core.Tables.read(spark, sf, "documents").limit(30)
    val viaExpr = Multimodal.decodedDims(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3))))
      .toMap
    val viaPartitions = Multimodal.decodeAll(spark, docs).collect()
      .map(d => d.doc_id -> ((d.format, d.width, d.height))).toMap
    assert(viaExpr === viaPartitions)
    assert(viaExpr.values.map(_._1).toSet === Set("png", "jpeg", "gif"))
    // every parse succeeded (no "unknown" fallbacks from decodeAll)
    assert(viaPartitions.values.forall(v => v._2 > 0 && v._3 > 0))
  }
}
