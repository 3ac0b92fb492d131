package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, col, count, floor, hash, lit, max, min, pmod, posexplode, round, sqrt, sum}

import graft.QueryDef
import graft.QueryDef.Sql
import graft.core.{Artifacts, Tables}
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis, TextOps}
import graft.streaming.Streams

/** Training-data-pipeline operators (SURVEY §7.6): dedup family, similarity
  * search, text analysis, multimodal plumbing, streaming-shaped window agg.
  * Oracles are generated programmatically where the SQL is wide (16-column
  * minhash signatures, 48-bit simhash sums, LSH projections).
  */
object PipelineQueries {

  /** Ensure the persisted ANN probe artifacts — IVF inverted lists + PQ
    * codebooks/code table, keyed by a content fingerprint of the
    * embedding corpus (values, not just ids — advice r13) and atomically
    * published — and return the fixture root. One corpus-wide build
    * serves every probe-side consumer: ann_recall audits recall against
    * them, and ann_pq (r15) probes the SAME trained quantizer instead of
    * re-fitting it per run — the production shape, where the PQ index is
    * persisted once and queries pay only the LUT + ADC scan. Fits are
    * deterministic and the frames parquet-lossless, so probe results are
    * identical to an in-plan fit (the equivalence ann_recall's oracle
    * has gated since round 13).
    */
  private def annArtifactsRoot(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val emb = Tables.read(s, dir, "embeddings")
    Artifacts.materialize(Artifacts.key("annrec", dir,
        emb.select("vec_id", "embedding"))) { stage =>
      Similarity.fitIvfLists(emb, nlists = 16)
        .write.parquet(s"$stage/ivf_lists")
      val (cen, codes) = Similarity.fitPq(emb, m = 8, ksub = 4)
      cen.write.parquet(s"$stage/pq_codebooks")
      codes.write.parquet(s"$stage/pq_codes")
    }
  }

  // ---- shared oracle fragments -------------------------------------------

  /** Whitespace tokens of normalized text (mirror of TextOps.tokens). */
  private val toksCte =
    "SELECT doc_id, lang, text, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents"

  /** Distinct word-bigram shingles (mirror of TextOps.bigramShingles). */
  private val shinglesExpr =
    "list_distinct(CASE WHEN len(t) >= 2 THEN [t[i] || ' ' || t[i+1] for i in generate_series(1, len(t)-1)] ELSE []::VARCHAR[] END)"

  /** Unrolled serial-BPE oracle (mirror of ops.Bpe.train, whose batched
    * selection is proven bit-identical to serial order). Words are
    * boundary-marked strings (' a  b  c ': single-space borders, two-space
    * separators) so that `replace(s, ' l  r ', ' lr ')` — SQL replace is
    * left-to-right and non-overlapping — is exactly the trainer's greedy
    * fold, with no false sub-symbol matches (a match needs the full
    * ' l  r ' context, and tokens are whitespace-split so symbols never
    * contain the marker). Each merge generation: re-split symbols, explode
    * adjacent pairs via zipped unnests, 1-row deterministic argmax
    * (n DESC, l, r), cross-join the merge into the next word table.
    */
  /** The trainer CTE chain shared by the train and encode oracles:
    * word-freq table as boundary-marked strings, then one (pairs, argmax,
    * replace) generation per merge.
    */
  private def bpeCtes(merges: Int): String = {
    val w0 =
      """w0 AS (
        |  SELECT ' ' || rtrim(regexp_replace(w, '(.)', '\1  ', 'g')) || ' ' AS s, freq
        |  FROM (
        |    SELECT w, count(*) AS freq FROM (
        |      SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
        |      FROM documents)
        |    WHERE length(w) >= 1 GROUP BY w))""".stripMargin
    val gens = (1 to merges).map { i =>
      s"""p$i AS (
         |  SELECT unnest(li[1:len(li)-1]) AS l, unnest(li[2:len(li)]) AS r, freq
         |  FROM (SELECT string_split(trim(s), '  ') AS li, freq FROM w${i - 1})),
         |m$i AS (
         |  SELECT l, r, CAST(sum(freq) AS BIGINT) AS n FROM p$i
         |  GROUP BY l, r ORDER BY n DESC, l, r LIMIT 1),
         |w$i AS (
         |  SELECT replace(s, ' '||l||'  '||r||' ', ' '||l||r||' ') AS s, freq
         |  FROM w${i - 1}, m$i)""".stripMargin
    }
    s"$w0,\n${gens.mkString(",\n")}"
  }

  private def bpeOracle(merges: Int): String = {
    val union = (1 to merges)
      .map(i => s"SELECT $i AS merge_rank, l, r, n FROM m$i")
      .mkString("\n  UNION ALL ")
    s"""WITH ${bpeCtes(merges)}
       |SELECT merge_rank, l AS "left", r AS "right", n AS pair_freq FROM (
       |  $union)
       |ORDER BY merge_rank""".stripMargin
  }

  /** Encode oracle: replay the trained merges in rank order over each
    * DISTINCT word (the same boundary-marked `replace` that IS the greedy
    * left-to-right fold — the identity the trainer generations already
    * rest on), then join token counts back onto per-document word
    * occurrences.
    */
  private def bpeEncodeOracle(merges: Int): String = {
    val enc0 =
      """enc0 AS (
        |  SELECT w, ' ' || rtrim(regexp_replace(w, '(.)', '\1  ', 'g')) || ' ' AS s
        |  FROM (SELECT DISTINCT w FROM occ))""".stripMargin
    val encs = (1 to merges).map { i =>
      s"""enc$i AS (
         |  SELECT w, replace(s, ' '||l||'  '||r||' ', ' '||l||r||' ') AS s
         |  FROM enc${i - 1}, m$i)""".stripMargin
    }
    s"""WITH ${bpeCtes(merges)},
       |occ AS (
       |  SELECT doc_id, w FROM (
       |    SELECT doc_id,
       |      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
       |    FROM documents)
       |  WHERE length(w) >= 1),
       |$enc0,
       |${encs.mkString(",\n")},
       |tok AS (
       |  SELECT w, CAST(len(string_split(trim(s), '  ')) AS BIGINT) AS nt
       |  FROM enc$merges)
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(length(w)) AS BIGINT) AS n_chars,
       |  CAST(sum(nt) AS BIGINT) AS n_bpe_tokens,
       |  (CAST(sum(length(w)) AS BIGINT) * 1000000) // CAST(sum(nt) AS BIGINT)
       |    AS compression_ppm
       |FROM occ JOIN tok USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Mirror of Similarity.dot/norm (1-based DuckDB list indexing; float
    * products cast to double, sequential list_sum; norms precomputed once
    * per vector exactly like the Spark side).
    */
  private def dotSql(x: String, y: String): String =
    s"list_sum([CAST($x[i] * $y[i] AS DOUBLE) for i in generate_series(1, 64)])"
  private def nrmSql(v: String): String = s"sqrt(${dotSql(v, v)})"
  private def cosSql(a: String, b: String, na: String, nb: String): String =
    s"round(${dotSql(a, b)} / ($na * $nb), 6)"

  /** ann_mmr_rerank oracle: the greedy MMR selection unrolled — one
    * (maxsim-over-selected, argmax-pick) CTE generation per rank. λ terms
    * are spelled `(1.0 - 0.7)`, never `0.3`, so both engines fold the
    * identical doubles (0.3 parses to a different double than 1.0 − 0.7).
    */
  private def mmrOracle(k: Int = 5, nCand: Int = 20,
      lamS: String = "0.7"): String = {
    def cos(c: String, s: String) =
      s"round(${dotSql(s"$c.embedding", s"$s.embedding")} / ($c.nrm * $s.nrm), 6)"
    val base =
      s"""e AS (SELECT vec_id, embedding, ${nrmSql("embedding")} AS nrm
         |  FROM embeddings),
         |q AS (SELECT embedding AS qv, nrm AS qn FROM e WHERE vec_id = 0),
         |cand AS (SELECT vec_id, embedding, nrm,
         |    ${cosSql("qv", "embedding", "qn", "nrm")} AS rel
         |  FROM e CROSS JOIN q WHERE vec_id != 0
         |  ORDER BY rel DESC, vec_id LIMIT $nCand),
         |p1 AS (SELECT vec_id, embedding, nrm, rel,
         |    round($lamS * rel - (1.0 - $lamS) * 0.0, 6) AS mmr
         |  FROM cand ORDER BY mmr DESC, vec_id LIMIT 1),
         |sel1 AS (SELECT * FROM p1)""".stripMargin
    val gens = (2 to k).map { i =>
      s"""ms$i AS (SELECT c.vec_id, max(${cos("c", "s")}) AS ms
         |  FROM cand c CROSS JOIN sel${i - 1} s
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
         |  GROUP BY c.vec_id),
         |p$i AS (SELECT c.vec_id, c.embedding, c.nrm, c.rel,
         |    round($lamS * c.rel - (1.0 - $lamS) * m.ms, 6) AS mmr
         |  FROM cand c JOIN ms$i m ON m.vec_id = c.vec_id
         |  ORDER BY mmr DESC, c.vec_id LIMIT 1),
         |sel$i AS (SELECT * FROM sel${i - 1}
         |  UNION ALL SELECT * FROM p$i)""".stripMargin
    }
    val ranks = (1 to k)
      .map(i => s"SELECT $i AS rnk, vec_id, rel, mmr FROM p$i")
      .mkString("\nUNION ALL\n")
    s"WITH ${(base +: gens).mkString(",\n")}\n" +
      s"SELECT CAST(rnk AS BIGINT) AS rank, vec_id, rel, mmr FROM (\n" +
      s"$ranks)\nORDER BY rank"
  }

  /** Mirror of Similarity.lshBucket: plane p's ±1 signs come from the
    * "p|i" hash (or "band|p|i" for the banded family).
    */
  private def bucketSql(v: String, bits: Int, band: Option[Int] = None): String = {
    val bitTerms = (0 until bits).map { p =>
      val seed = band.fold(s"$p")(b => s"$b|$p")
      val signs = s"CASE WHEN ${Sql.hash64(s"'$seed|' || CAST(i AS VARCHAR)")} % 2 = 0 THEN 1.0 ELSE -1.0 END"
      val proj =
        s"round(list_sum([CAST($v[i+1] AS DOUBLE) * ($signs) for i in generate_series(0, 63)]), 6)"
      s"(CASE WHEN $proj >= 0 THEN ${1L << p} ELSE 0 END)"
    }
    bitTerms.mkString("(", " + ", ")")
  }

  /** Adaptive mirror of [[bucketSql]]: `maxBits` candidate bit terms, each
    * gated on the CTE scalar `ab.bits` (the integer rule of
    * `Similarity.adaptiveBitsPerBand` — smallest p with 2^p·64 ≥ n, floor
    * 6). Callers CROSS JOIN the [[adaptiveBitsCte]]. maxBits=16 covers
    * n ≤ 2^16·64 ≈ 4.2M vectors — any offline verification SF; the engine
    * side is unbounded to the Scala rule's 30-bit cap, so the key FAILS
    * LOUDLY (DuckDB error()) rather than silently dropping high bits if a
    * corpus ever exceeds the oracle's term budget (round-6 advice).
    */
  private def adaptiveBucketSql(v: String, maxBits: Int,
      band: Option[Int] = None): String = {
    val bitTerms = (0 until maxBits).map { p =>
      val seed = band.fold(s"$p")(b => s"$b|$p")
      val signs = s"CASE WHEN ${Sql.hash64(s"'$seed|' || CAST(i AS VARCHAR)")} % 2 = 0 THEN 1.0 ELSE -1.0 END"
      val proj =
        s"round(list_sum([CAST($v[i+1] AS DOUBLE) * ($signs) for i in generate_series(0, 63)]), 6)"
      s"(CASE WHEN $p < ab.bits THEN (CASE WHEN $proj >= 0 THEN ${1L << p} ELSE 0 END) ELSE 0 END)"
    }
    bitTerms.mkString(
      s"(CASE WHEN ab.bits > $maxBits THEN CAST(error('adaptive bits ' || ab.bits || ' exceed oracle maxBits $maxBits') AS BIGINT) ELSE 0 END) + (",
      " + ", ")")
  }

  /** Integer-exact adaptive bit count over the embeddings corpus (mirror of
    * Similarity.adaptiveBitsPerBand; no float log₂ on either engine). The
    * COALESCE mirrors the Scala rule's getOrElse(30) cap — above 2^30·64
    * vectors min(p) is NULL and the rule pins at 30 on both engines.
    * `minBits` mirrors the Scala floor (6 for the banded family, 4 for
    * the single-bucket baseline's historical width).
    */
  private def adaptiveBitsCte(minBits: Int = 6): String =
    s"""ab AS (SELECT GREATEST($minBits, COALESCE((SELECT CAST(min(p) AS INT)
       |  FROM generate_series(0, 30) t(p)
       |  WHERE (1::BIGINT << p) * 64 >= (SELECT count(*) FROM embeddings)), 30))
       |  AS bits)""".stripMargin

  /** Shared CTE chain for the adaptive banded candidate pairs (mirror of
    * Similarity.embeddingNearDupsAdaptive's blocking): e (vectors+norms),
    * ab (bit rule), keyed (4 band keys per vector), cand (distinct in-band
    * collisions, a<b).
    */
  private def adaptiveBandedCandSql(maxBits: Int = 16): String = {
    val bandSelects = (0 until 4).map { b =>
      s"SELECT vec_id, $b AS band, ${adaptiveBucketSql("embedding", maxBits, Some(b))} AS bh FROM e CROSS JOIN ab"
    }.mkString("\nUNION ALL\n")
    s"""e AS (SELECT vec_id, embedding, ${nrmSql("embedding")} AS nrm
       |           FROM embeddings),
       |${adaptiveBitsCte()},
       |keyed AS (
       |$bandSelects),
       |cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |         FROM keyed x JOIN keyed y
       |           ON x.band = y.band AND x.bh = y.bh AND x.vec_id < y.vec_id)""".stripMargin
  }

  /** Mirror of ops.Clustering.kmeansLloyd: unrolled Lloyd iterations,
    * coordinates quantized to DECIMAL(12,8), exact-decimal dot/norm
    * scoring, per-dim double mean re-quantized. DuckDB's `range(64)` dim
    * axis is 0-based like posexplode (indices never leave the query).
    */
  /** The shared Lloyd-iteration CTE chain (ex, cen0, s/n/a/cen per round)
    * — reused by the kmeans summary oracle and the trained-IVF oracle.
    */
  private def kmeansCtes(k: Int, iters: Int): String = {
    def iterCtes(i: Int, prev: String): String =
      s"""s$i AS (SELECT e.vec_id, c.cluster, sum(e.xq * c.cd) AS dot
         |       FROM ex e JOIN $prev c ON c.dim = e.dim GROUP BY 1, 2),
         |n$i AS (SELECT cluster, sum(cd*cd) AS cnorm FROM $prev GROUP BY 1),
         |a$i AS (SELECT vec_id, cluster FROM (
         |        SELECT s$i.vec_id, s$i.cluster,
         |          row_number() OVER (PARTITION BY s$i.vec_id
         |            ORDER BY n$i.cnorm - 2*s$i.dot, s$i.cluster) AS rn
         |        FROM s$i JOIN n$i USING (cluster)) WHERE rn = 1),
         |cen$i AS (SELECT cluster, dim,
         |          CAST(CAST(sum(xq) AS DOUBLE)/count(*) AS DECIMAL(12,8)) AS cd
         |         FROM ex JOIN a$i USING (vec_id) GROUP BY 1, 2)""".stripMargin
    val iterSql = (1 to iters)
      .map(i => iterCtes(i, if (i == 1) "cen0" else s"cen${i - 1}"))
      .mkString(",\n")
    s"""ex AS (
       |  SELECT vec_id, t.dim,
       |    CAST(CAST(embedding[t.dim + 1] AS DOUBLE) AS DECIMAL(12,8)) AS xq
       |  FROM embeddings CROSS JOIN range(64) t(dim)),
       |cen0 AS (SELECT CAST(vec_id AS INT) AS cluster, dim, xq AS cd
       |         FROM ex WHERE vec_id < $k),
       |$iterSql""".stripMargin
  }

  /** Mirror of Clustering.pcaPowerTop: the same exploded-decimal Gram
    * (built by self-join here — the oracle has no perf constraint), /N
    * re-quantization, and `iters` unrolled max-abs-normalized power
    * steps. Every cast sits exactly where the engine casts.
    */
  private def pcaOracle(iters: Int = 4): String = {
    def step(k: Int, prev: String): String =
      s"""u$k AS (SELECT g.i, sum(g.g * v.v) AS u
         |       FROM gn g JOIN $prev v ON v.j = g.j GROUP BY 1),
         |m$k AS (SELECT max(abs(u)) AS m FROM u$k),
         |v$k AS (SELECT i AS j,
         |         CAST(CAST(u AS DOUBLE) / CAST(m AS DOUBLE)
         |              AS DECIMAL(12,8)) AS v
         |       FROM u$k CROSS JOIN m$k)""".stripMargin
    val steps = (1 to iters)
      .map(k => step(k, if (k == 1) "v0" else s"v${k - 1}"))
      .mkString(",\n")
    s"""WITH ex AS (
       |  SELECT vec_id, t.i AS i,
       |    CAST(CAST(embedding[t.i + 1] AS DOUBLE) AS DECIMAL(12,8)) AS xi
       |  FROM embeddings CROSS JOIN range(64) t(i)),
       |nn AS (SELECT count(*) AS n FROM embeddings),
       |gr AS (SELECT a.i AS i, b.i AS j, sum(a.xi * b.xi) AS g
       |       FROM ex a JOIN ex b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       |gn AS (SELECT i, j, CAST(CAST(g AS DOUBLE) / n AS DECIMAL(12,8)) AS g
       |       FROM gr CROSS JOIN nn),
       |v0 AS (SELECT t.i AS j, CAST(1 AS DECIMAL(12,8)) AS v
       |       FROM range(64) t(i)),
       |$steps
       |SELECT CAST(j AS BIGINT) AS dim, round(CAST(v AS DOUBLE), 6) AS loading,
       |  round(CAST(m AS DOUBLE), 6) AS eig_est
       |FROM v$iters CROSS JOIN m$iters ORDER BY dim""".stripMargin
  }

  /** Mirror of Similarity.pqTopK: per-subspace codebooks (one Lloyd
    * round, subspace id in every key so all 8 train in one CTE chain),
    * encode against the trained codebooks, ADC lookup-table scoring —
    * every quantity exact DECIMAL until the final rounding.
    */
  private def pqOracle(nQueries: Int = 5, k: Int = 3, dsub: Int = 8,
      ksub: Int = 4): String =
    s"""WITH ${pqCtes(nQueries, dsub, ksub)}
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
       |  round(CAST(d2 AS DOUBLE), 6) AS approx_d2
       |FROM (SELECT query_id, neighbor_id, d2, row_number() OVER (
       |        PARTITION BY query_id ORDER BY d2, neighbor_id) AS rank
       |      FROM adc)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  /** The PQ pipeline CTE chain up to `adc` (query→candidate ADC
    * distances) — shared by [[pqOracle]] and the recall oracle.
    */
  private def pqCtes(nQueries: Int, dsub: Int, ksub: Int): String =
    s"""ex AS (
       |  SELECT vec_id, t.dim // $dsub AS m, t.dim % $dsub AS dm,
       |    CAST(CAST(embedding[t.dim + 1] AS DOUBLE) AS DECIMAL(12,8)) AS xq
       |  FROM embeddings CROSS JOIN range(64) t(dim)),
       |cen0 AS (SELECT m, CAST(vec_id AS INT) AS cluster, dm, xq AS cd
       |         FROM ex WHERE vec_id < $ksub),
       |s1 AS (SELECT e.vec_id, e.m, c.cluster, sum(e.xq * c.cd) AS dot
       |       FROM ex e JOIN cen0 c ON c.m = e.m AND c.dm = e.dm
       |       GROUP BY 1, 2, 3),
       |n1 AS (SELECT m, cluster, sum(cd*cd) AS cnorm FROM cen0 GROUP BY 1, 2),
       |a1 AS (SELECT vec_id, m, cluster FROM (
       |        SELECT s1.vec_id, s1.m, s1.cluster, row_number() OVER (
       |          PARTITION BY s1.vec_id, s1.m
       |          ORDER BY n1.cnorm - 2*s1.dot, s1.cluster) AS rn
       |        FROM s1 JOIN n1 ON n1.m = s1.m AND n1.cluster = s1.cluster)
       |       WHERE rn = 1),
       |cen1 AS (SELECT a1.m, a1.cluster, ex.dm,
       |          CAST(CAST(sum(xq) AS DOUBLE)/count(*) AS DECIMAL(12,8)) AS cd
       |         FROM ex JOIN a1 ON ex.vec_id = a1.vec_id AND ex.m = a1.m
       |         GROUP BY 1, 2, 3),
       |s2 AS (SELECT e.vec_id, e.m, c.cluster, sum(e.xq * c.cd) AS dot
       |       FROM ex e JOIN cen1 c ON c.m = e.m AND c.dm = e.dm
       |       GROUP BY 1, 2, 3),
       |n2 AS (SELECT m, cluster, sum(cd*cd) AS cnorm FROM cen1 GROUP BY 1, 2),
       |codes AS (SELECT vec_id, m, cluster FROM (
       |        SELECT s2.vec_id, s2.m, s2.cluster, row_number() OVER (
       |          PARTITION BY s2.vec_id, s2.m
       |          ORDER BY n2.cnorm - 2*s2.dot, s2.cluster) AS rn
       |        FROM s2 JOIN n2 ON n2.m = s2.m AND n2.cluster = s2.cluster)
       |       WHERE rn = 1),
       |lut AS (SELECT e.vec_id AS query_id, e.m, c.cluster,
       |          sum((e.xq - c.cd) * (e.xq - c.cd)) AS pd
       |        FROM ex e JOIN cen1 c ON c.m = e.m AND c.dm = e.dm
       |        WHERE e.vec_id < $nQueries GROUP BY 1, 2, 3),
       |adc AS (SELECT l.query_id, kc.vec_id AS neighbor_id, sum(l.pd) AS d2
       |        FROM codes kc JOIN lut l
       |          ON l.m = kc.m AND l.cluster = kc.cluster
       |        WHERE kc.vec_id <> l.query_id GROUP BY 1, 2)""".stripMargin

  private def kmeansOracle(k: Int = 4, iters: Int = 2): String = {
    s"""WITH ${kmeansCtes(k, iters)},
       |nf AS (SELECT cluster,
       |         round(sqrt(CAST(sum(cd*cd) AS DOUBLE)), 6) AS centroid_norm
       |       FROM cen$iters GROUP BY 1)
       |SELECT CAST(a$iters.cluster AS BIGINT) AS cluster,
       |  count(*) AS n_members, nf.centroid_norm
       |FROM a$iters JOIN nf USING (cluster)
       |GROUP BY 1, nf.centroid_norm ORDER BY cluster""".stripMargin
  }

  /** Mirror of Similarity.ivfTrainedTopK: kmeans-trained centroids
    * (shared Lloyd CTEs), cosine assignment in the same exploded-decimal
    * space, exact array-space rank inside the probed lists.
    */
  private def ivfTrainedOracle(nlists: Int = 8, iters: Int = 1,
      nQueries: Int = 5, k: Int = 3, nprobe: Int = 2): String =
    s"""WITH ${kmeansCtes(nlists, iters)},
       |vn AS (SELECT vec_id, sqrt(CAST(sum(xq*xq) AS DOUBLE)) AS vnrm
       |       FROM ex GROUP BY 1),
       |cn AS (SELECT cluster, sqrt(CAST(sum(cd*cd) AS DOUBLE)) AS cnrm
       |       FROM cen$iters GROUP BY 1),
       |dt AS (SELECT e.vec_id, c.cluster, sum(e.xq * c.cd) AS dt
       |       FROM ex e JOIN cen$iters c ON c.dim = e.dim GROUP BY 1, 2),
       |cc AS (SELECT dt.vec_id, dt.cluster,
       |         round(CAST(dt.dt AS DOUBLE) / (vn.vnrm * cn.cnrm), 6) AS ccos
       |       FROM dt JOIN vn USING (vec_id) JOIN cn USING (cluster)),
       |al AS (SELECT vec_id, cluster AS list_id FROM (
       |        SELECT vec_id, cluster, row_number() OVER (
       |          PARTITION BY vec_id ORDER BY ccos DESC, cluster) AS rn
       |        FROM cc) WHERE rn = 1),
       |pl AS (SELECT vec_id AS query_id, cluster AS list_id FROM (
       |        SELECT vec_id, cluster, row_number() OVER (
       |          PARTITION BY vec_id ORDER BY ccos DESC, cluster) AS rn
       |        FROM cc WHERE vec_id < $nQueries) WHERE rn <= $nprobe),
       |ev AS (SELECT vec_id, embedding, ${nrmSql("embedding")} AS nrm
       |       FROM embeddings)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos_sim
       |FROM (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    ${cosSql("q.embedding", "a.embedding", "q.nrm", "a.nrm")} AS cos_sim,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY ${cosSql("q.embedding", "a.embedding", "q.nrm", "a.nrm")} DESC,
       |               a.vec_id) AS rank
       |  FROM ev a JOIN al ON al.vec_id = a.vec_id
       |  JOIN pl p ON p.list_id = al.list_id AND a.vec_id <> p.query_id
       |  JOIN ev q ON q.vec_id = p.query_id)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin

  // ---- queries ------------------------------------------------------------

  val all: Seq[QueryDef] = Seq(

    QueryDef("dedup_exact",
      (s, dir) => Dedup.exact(Tables.read(s, dir, "documents")),
      Some(s"""SELECT ${Sql.hash64(Sql.norm("text"))} AS text_hash,
              |min(doc_id) AS canonical_id, count(*) AS n_copies
              |FROM documents GROUP BY 1 ORDER BY canonical_id""".stripMargin)),

    QueryDef("dedup_minhash",
      (s, dir) => Dedup.minhashPairs(Tables.read(s, dir, "documents")),
      Some(minhashOracle)),

    QueryDef("dedup_simhash",
      (s, dir) => Dedup.simhashPairs(Tables.read(s, dir, "documents"),
        Tables.rowCount(s, dir, "documents")),
      Some(simhashOracle)),

    QueryDef("dedup_ngram_jaccard",
      (s, dir) => Dedup.ngramJaccardPairs(Tables.read(s, dir, "documents")),
      Some(ngramJaccardOracle)),

    // Exact set-similarity join via prefix filtering (AllPairs/PPJoin):
    // the deterministic, provably-complete complement to the LSH pipeline
    // — see Dedup.setSimilarityJoin's scaladoc for the prefix-filter
    // theorem. The oracle is ALGORITHM-INDEPENDENT: it generates
    // candidates from "any shared shingle" (a strict superset of the
    // engine's prefix candidates) and verifies the same exact Jaccard, so
    // a prefix-length bug that drops a true pair fails the gate.
    QueryDef("join_set_similarity",
      (s, dir) => Dedup.setSimilarityJoin(Tables.read(s, dir, "documents")),
      Some(setSimJoinOracle)),

    // Single-bucket hyperplane blocking baseline, bucket width ADAPTIVE
    // since round 8 (minBits=4 keeps driver-SF outputs bit-identical to
    // the historical fixed-4 form): at fixed width the sf2 bench read
    // 4.9× wall for 2× data — N²/16 in-bucket cosines, a compute
    // quadratic the byte audit could not see (20 MB of shuffle behind
    // 20 s of cosines). The oracle gates the SAME integer width rule.
    QueryDef("dedup_embedding",
      (s, dir) => Similarity.embeddingNearDupsAdaptiveSingle(
        Tables.read(s, dir, "embeddings"),
        Tables.rowCount(s, dir, "embeddings")),
      Some(s"""WITH ${adaptiveBitsCte(4)},
              |bk AS (SELECT vec_id, embedding,
              |  ${nrmSql("embedding")} AS nrm,
              |  ${adaptiveBucketSql("embedding", 16)} AS bucket
              |  FROM embeddings CROSS JOIN ab)
              |SELECT vec_a, vec_b, cos_sim FROM (
              |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
              |    ${cosSql("a.embedding", "b.embedding", "a.nrm", "b.nrm")} AS cos_sim
              |  FROM bk a JOIN bk b
              |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
              |WHERE cos_sim >= 0.35 ORDER BY vec_a, vec_b""".stripMargin)),

    // MEASURED dedup: recall of the LSH-banded candidate pipeline
    // against ground-truth all-pairs Jaccard on a bounded 300-doc
    // subset (45k exact comparisons — the honest way to audit banding
    // without an O(n²) job over the corpus). The ann_recall idea applied
    // to dedup: banding misses become a number, not a hope.
    QueryDef("dedup_minhash_recall",
      (s, dir) => {
        val sub = Tables.read(s, dir, "documents")
          .filter(col("doc_id") < 300)
        // the exact all-pairs leg is a nested-loop join whose parallelism
        // is the STREAMED side's partition count — a single-file scan
        // arrives as 1 partition and serialized the 45k array-intersects
        // on one core (JobTimeAudit r15: 9 tasks, 2.2 s task time ≈ the
        // whole jobCover). Gated spread (guide §2.5) parallelizes it;
        // identity on already-wide scans, and set intersections are
        // partitioning-independent.
        val sh = graft.core.Parallelism.spread(
          TextOps.withTokens(sub).select(col("doc_id"),
            TextOps.bigramShingles(col("t")).as("shingles")),
          col("doc_id"))
        val a = sh.select(col("doc_id").as("doc_a"),
          col("shingles").as("sa"))
        val b = sh.select(col("doc_id").as("doc_b"),
          col("shingles").as("sb"))
        val exact = a.join(b, col("doc_a") < col("doc_b"))
          .withColumn("inter",
            org.apache.spark.sql.functions.size(
              org.apache.spark.sql.functions.array_intersect(
                col("sa"), col("sb"))))
          .withColumn("jaccard", col("inter").cast("double") /
            (org.apache.spark.sql.functions.size(col("sa"))
              + org.apache.spark.sql.functions.size(col("sb"))
              - col("inter")))
          .filter(col("jaccard") >= 0.5)
          .select("doc_a", "doc_b").localCheckpoint()
        val lsh = Dedup.ngramJaccardPairs(sub).select("doc_a", "doc_b")
        val nExact = exact.agg(count(lit(1)).as("n_exact"))
        val hits = lsh.join(exact, Seq("doc_a", "doc_b"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
        hits.crossJoin(nExact)
          .select(col("n_hit"), col("n_exact"),
            round(col("n_hit").cast("double") / col("n_exact"), 6)
              .as("recall"))
      },
      Some(s"""WITH $bandedCtesSql,
              |sub AS (SELECT doc_id, shingles FROM shl WHERE doc_id < 300),
              |exact AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
              |  FROM sub a JOIN sub b ON a.doc_id < b.doc_id
              |  WHERE CAST(len(list_intersect(a.shingles, b.shingles))
              |        AS DOUBLE)
              |    / (len(a.shingles) + len(b.shingles)
              |       - len(list_intersect(a.shingles, b.shingles))) >= 0.5),
              |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              |  FROM banded a JOIN banded b
              |    ON a.band = b.band AND a.bh = b.bh
              |     AND a.doc_id < b.doc_id
              |  WHERE a.doc_id < 300 AND b.doc_id < 300),
              |lsh AS (
              |  SELECT c.doc_a, c.doc_b FROM cand c
              |  JOIN sub sa ON sa.doc_id = c.doc_a
              |  JOIN sub sb ON sb.doc_id = c.doc_b
              |  WHERE CAST(len(list_intersect(sa.shingles, sb.shingles))
              |        AS DOUBLE)
              |    / (len(sa.shingles) + len(sb.shingles)
              |       - len(list_intersect(sa.shingles, sb.shingles))) >= 0.5),
              |h AS (SELECT count(*) AS n_hit
              |      FROM lsh JOIN exact USING (doc_a, doc_b)),
              |x AS (SELECT count(*) AS n_exact FROM exact)
              |SELECT n_hit, n_exact,
              |  round(CAST(n_hit AS DOUBLE) / n_exact, 6) AS recall
              |FROM h CROSS JOIN x""".stripMargin)),

    // Asymmetric containment (|A∩B|/|A|) over the shared LSH candidates:
    // catches subset duplication — a doc absorbed whole into a longer one
    // — that symmetric Jaccard under-scores. Scores rounded before the
    // threshold so the keep decision is engine-exact.
    QueryDef("dedup_containment",
      (s, dir) => Dedup.containmentPairs(Tables.read(s, dir, "documents")),
      Some(containmentOracle)),

    // Semantic dedup end-to-end: banded adaptive-width LSH cosine pairs →
    // each vector's TOP-1 most-similar partner (1-NN graph) → the
    // large/small-star component labeler — near-dup EMBEDDING clusters
    // with their canonical (min) ids. Both halves are individually gated
    // (dedup_embedding_banded, dedup_cluster_lss); this gates the
    // composition. The 1-NN contraction is load-bearing at scale:
    // transitively closing ALL pairs ≥ 0.35 percolates on background
    // similarity (measured at sf1: 19,698 of 19,990 active vectors in ONE
    // component — a "dedup" that deletes the corpus, and a closure the
    // oracle can't finish), while the top-1 restriction bounds each
    // node's degree so components stay actual duplicate families (sf1:
    // 2,064 components, max size 11 = the replica groups). Candidate
    // volume stays ∝ N via the adaptive bucket width (the round-5 audit
    // measured the old fixed-4-bit form at 18.5× shuffle bytes for 10×
    // data); the top-1 window shuffles only the (node, partner, cos)
    // pairs.
    QueryDef("dedup_embedding_cluster",
      (s, dir) => {
        val pairs = Similarity.embeddingNearDupsAdaptive(
          Tables.read(s, dir, "embeddings"),
          Tables.rowCount(s, dir, "embeddings"))
        val sym = pairs
          .select(col("vec_a").as("node"), col("vec_b").as("nb"),
            col("cos_sim"))
          .unionByName(pairs.select(col("vec_b").as("node"),
            col("vec_a").as("nb"), col("cos_sim")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("node")
          .orderBy(col("cos_sim").desc, col("nb"))
        val top1 = sym
          .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
          .filter(col("rn") === 1)
        val edges = top1.select(
            org.apache.spark.sql.functions.least(col("node"), col("nb"))
              .as("doc_a"),
            org.apache.spark.sql.functions.greatest(col("node"), col("nb"))
              .as("doc_b"))
          .distinct()
        Dedup.lssComponents(edges)
          .select(col("doc_id").as("vec_id"), col("canonical_id"))
          .orderBy("vec_id")
      },
      Some(s"""WITH RECURSIVE ${adaptiveBandedCandSql()},
              |p AS (SELECT vec_a, vec_b, cos_sim FROM (
              |  SELECT vec_a, vec_b,
              |    ${cosSql("a.embedding", "b.embedding", "a.nrm", "b.nrm")} AS cos_sim
              |  FROM cand JOIN e a ON vec_a = a.vec_id
              |            JOIN e b ON vec_b = b.vec_id)
              |  WHERE cos_sim >= 0.35),
              |sym AS (SELECT vec_a AS node, vec_b AS nb, cos_sim FROM p
              |  UNION ALL SELECT vec_b, vec_a, cos_sim FROM p),
              |top1 AS (SELECT node, nb FROM (
              |  SELECT node, nb, row_number() OVER (PARTITION BY node
              |    ORDER BY cos_sim DESC, nb) AS rn FROM sym) WHERE rn = 1),
              |e2 AS (SELECT DISTINCT least(node, nb) AS a,
              |                       greatest(node, nb) AS b FROM top1),
              |edges AS (SELECT a, b FROM e2
              |  UNION SELECT b, a FROM e2
              |  UNION SELECT a, a FROM e2
              |  UNION SELECT b, b FROM e2),
              |walk(node, reach) AS (
              |  SELECT DISTINCT a, a FROM edges
              |  UNION
              |  SELECT w.node, e.b FROM walk w JOIN edges e ON e.a = w.reach)
              |SELECT node AS vec_id, min(reach) AS canonical_id
              |FROM walk GROUP BY 1 ORDER BY vec_id""".stripMargin)),

    QueryDef("dedup_cluster",
      (s, dir) => Dedup.cluster(Tables.read(s, dir, "documents")),
      Some(clusterOracle)),

    QueryDef("dedup_cluster_lss",
      (s, dir) => Dedup.clusterLss(Tables.read(s, dir, "documents")),
      Some(lssOracle)),

    // WHICH duplicate survives: per near-dup cluster, keep the member
    // with the best quality score (tie → lowest doc_id) — keep-best
    // dedup instead of keep-min-id, the decision production pipelines
    // actually make (deleting the longest/cleanest copy because its id
    // sorted higher is a real data-quality regression). Composes the
    // cluster labeler with the text_quality scorer: labels are
    // duplicate-bounded (∝ docs with a partner), quality is one map-side
    // corpus pass, the argmax is a per-cluster window over cluster-sized
    // groups. Ranking uses the 6-dp-rounded score (the cosine
    // discipline), so cross-engine ordering cannot drift.
    QueryDef("dedup_keep_best",
      (s, dir) => Dedup.keepBest(Tables.read(s, dir, "documents")),
      Some(s"""WITH $clusterCtesSql,
              |q AS (SELECT doc_id,
              |  round(CAST(stop_hits AS DOUBLE) / n_tokens * 0.5 +
              |        CAST(n_alpha AS DOUBLE) / n_chars * 0.5, 6)
              |    AS quality_score
              |  FROM (
              |    SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
              |      CAST(len(t) AS BIGINT) AS n_tokens,
              |      CAST(len(list_filter(t, x -> x IN (${TextOps.StopEn.map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS stop_hits,
              |      CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha
              |    FROM ($toksCte))),
              |scored AS (SELECT l.doc_id, l.label AS canonical_id,
              |             q.quality_score
              |           FROM l3 l JOIN q ON l.doc_id = q.doc_id),
              |kept AS (SELECT canonical_id, doc_id AS kept_doc_id,
              |           quality_score AS kept_quality
              |         FROM (SELECT *, row_number() OVER (
              |             PARTITION BY canonical_id
              |             ORDER BY quality_score DESC, doc_id) AS rn
              |           FROM scored) WHERE rn = 1),
              |members AS (SELECT canonical_id, count(*) AS n_members
              |            FROM scored GROUP BY 1)
              |SELECT k.canonical_id, k.kept_doc_id, k.kept_quality,
              |  m.n_members
              |FROM kept k JOIN members m ON k.canonical_id = m.canonical_id
              |ORDER BY k.canonical_id""".stripMargin)),

    // Incremental dedup: the NEW snapshot (every 10th doc id, standing in
    // for an ingest batch) probes the CORPUS's persisted LSH band keys
    // with a semi-join — corpus text is never re-paired against itself.
    // The production shape of dedup-at-ingest (see Dedup.incrementalFlags).
    QueryDef("dedup_incremental",
      (s, dir) => Dedup.incrementalFlags(
        Tables.read(s, dir, "documents"),
        pmod(col("doc_id"), lit(10)) === 0),
      Some(incrementalOracle)),

    // Corpus-scale near-dup: banded OR-amplification for recall, bucket
    // width from the corpus size (adaptiveBitsPerBand) so in-bucket
    // candidate density stays ~constant as N grows — candidate volume ∝ N
    // instead of the fixed-parameter N²/2^bits. At the driver SFs (n ≤
    // 4096) the rule floors at 6 bits ≡ the former fixed setting.
    QueryDef("dedup_embedding_banded",
      (s, dir) => Similarity.embeddingNearDupsAdaptive(
        Tables.read(s, dir, "embeddings"),
        Tables.rowCount(s, dir, "embeddings"), threshold = 0.35, bands = 4),
      Some(bandedEmbeddingOracle)),

    // Threshold-calibration curve for embedding dedup: candidate-pair
    // counts per 0.05 cosine bucket with a descending cumulative — "how
    // many pairs would a threshold of t merge" as ONE extra agg over the
    // same banded candidates the dedup itself scores (no new corpus
    // pass; curve size ≤ 21 rows, the global window is free). The tuning
    // artifact that turns threshold choice from folklore into a count.
    QueryDef("dedup_threshold_curve",
      (s, dir) => {
        val pairs = Similarity.embeddingNearDupsAdaptive(
          Tables.read(s, dir, "embeddings"),
          Tables.rowCount(s, dir, "embeddings"), threshold = 0.0, bands = 4)
        val byBucket = pairs
          .withColumn("bucket", floor(col("cos_sim") * 20).cast("long"))
          .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
        val w = Window.orderBy(col("bucket").desc)
        byBucket.withColumn("cum_pairs", sum(col("n_pairs")).over(w))
          .select((col("bucket") * 5).as("threshold_centi"),
            col("n_pairs"), col("cum_pairs"))
          .orderBy("threshold_centi")
      },
      Some(s"""WITH ${adaptiveBandedCandSql()},
              |scored AS (
              |  SELECT ${cosSql("a.embedding", "b.embedding", "a.nrm", "b.nrm")} AS cos_sim
              |  FROM cand JOIN e a ON vec_a = a.vec_id
              |            JOIN e b ON vec_b = b.vec_id),
              |bx AS (SELECT CAST(floor(cos_sim * 20) AS BIGINT) AS bucket,
              |         count(*) AS n_pairs
              |       FROM scored WHERE cos_sim >= 0.0 GROUP BY 1)
              |SELECT bucket * 5 AS threshold_centi, n_pairs,
              |  CAST(sum(n_pairs) OVER (ORDER BY bucket DESC) AS BIGINT)
              |    AS cum_pairs
              |FROM bx ORDER BY threshold_centi""".stripMargin)),

    QueryDef("ann_bruteforce",
      (s, dir) => Similarity.bruteForceTopK(Tables.read(s, dir, "embeddings")),
      Some(s"""WITH e AS (SELECT vec_id, embedding,
              |  ${nrmSql("embedding")} AS nrm FROM embeddings)
              |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos_sim
              |FROM (
              |  SELECT query_id, neighbor_id, cos_sim,
              |    row_number() OVER (PARTITION BY query_id
              |                       ORDER BY cos_sim DESC, neighbor_id) AS rank
              |  FROM (
              |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
              |      ${cosSql("q.embedding", "n.embedding", "q.nrm", "n.nrm")} AS cos_sim
              |    FROM e q JOIN e n ON n.vec_id <> q.vec_id
              |    WHERE q.vec_id < 5))
              |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    // MMR diversity re-rank: greedy λ·rel − (1−λ)·maxSim over the top-20
    // brute-force candidates for query vector 0 — the oracle unrolls the
    // greedy one (maxsim, argmax) CTE generation per pick, the same
    // unrolled-serial-oracle discipline the BPE trainer uses.
    QueryDef("ann_mmr_rerank",
      (s, dir) => Similarity.mmrRerank(Tables.read(s, dir, "embeddings")),
      Some(mmrOracle())),

    // filtered vector search: metadata predicate (documents.lang = 'en')
    // semi-joins the corpus before any cosine math — retrieval-with-filters
    QueryDef("ann_filtered",
      (s, dir) => Similarity.filteredTopK(
        Tables.read(s, dir, "embeddings"),
        Tables.read(s, dir, "documents").filter(col("lang") === "en")
          .select(col("doc_id").as("vec_id")),
        nQueries = 5, k = 5),
      Some(s"""WITH e AS (SELECT vec_id, embedding,
              |  ${nrmSql("embedding")} AS nrm FROM embeddings)
              |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos_sim
              |FROM (
              |  SELECT query_id, neighbor_id, cos_sim,
              |    row_number() OVER (PARTITION BY query_id
              |                       ORDER BY cos_sim DESC, neighbor_id) AS rank
              |  FROM (
              |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
              |      ${cosSql("q.embedding", "n.embedding", "q.nrm", "n.nrm")} AS cos_sim
              |    FROM e q JOIN e n ON n.vec_id <> q.vec_id
              |    WHERE q.vec_id < 5 AND EXISTS (
              |      SELECT 1 FROM documents d
              |      WHERE d.doc_id = n.vec_id AND d.lang = 'en')))
              |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    QueryDef("ann_lsh",
      (s, dir) => Similarity.lshTopK(Tables.read(s, dir, "embeddings"),
        nQueries = 5, k = 3, bits = 4),
      Some(s"""WITH bk AS (SELECT vec_id, embedding,
              |  ${nrmSql("embedding")} AS nrm,
              |  ${bucketSql("embedding", 4)} AS bucket FROM embeddings)
              |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos_sim
              |FROM (
              |  SELECT query_id, neighbor_id, cos_sim,
              |    row_number() OVER (PARTITION BY query_id
              |                       ORDER BY cos_sim DESC, neighbor_id) AS rank
              |  FROM (
              |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
              |      ${cosSql("q.embedding", "e.embedding", "q.nrm", "e.nrm")} AS cos_sim
              |    FROM bk q JOIN bk e
              |      ON e.bucket = q.bucket AND e.vec_id <> q.vec_id
              |    WHERE q.vec_id < 5))
              |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),

    // Multi-probe LSH (Lv et al.): own bucket + every 1-bit flip —
    // recall back without lowering bits (which squares in-bucket
    // candidate counts). Probe fan-out explodes the broadcast query
    // frame, never the corpus.
    QueryDef("ann_multiprobe",
      (s, dir) => Similarity.multiProbeTopK(Tables.read(s, dir, "embeddings"),
        nQueries = 5, k = 3, bits = 6),
      Some(s"""WITH bk AS (SELECT vec_id, embedding,
              |  ${nrmSql("embedding")} AS nrm,
              |  ${bucketSql("embedding", 6)} AS bucket FROM embeddings),
              |pr AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qnrm,
              |  unnest([bucket] ||
              |         [xor(bucket, 1::BIGINT << p) for p in generate_series(0, 5)])
              |    AS probe
              |  FROM bk WHERE vec_id < 5)
              |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos_sim
              |FROM (
              |  SELECT query_id, neighbor_id, cos_sim,
              |    row_number() OVER (PARTITION BY query_id
              |                       ORDER BY cos_sim DESC, neighbor_id) AS rank
              |  FROM (
              |    SELECT q.query_id, e.vec_id AS neighbor_id,
              |      ${cosSql("q.qv", "e.embedding", "q.qnrm", "e.nrm")} AS cos_sim
              |    FROM pr q JOIN bk e
              |      ON e.bucket = q.probe AND e.vec_id <> q.query_id))
              |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),

    QueryDef("ann_ivf",
      (s, dir) => {
        val emb = Tables.read(s, dir, "embeddings")
        Similarity.ivfTopK(emb, Similarity.fitIvfLists(emb, nlists = 16),
          nQueries = 5, k = 3, nlists = 16, nprobe = 2)
      },
      Some(ivfOracle)),

    // IVF with a kmeans-TRAINED coarse quantizer (the production 100 TB
    // shape — balanced inverted lists fit to the data distribution);
    // assignment bit-consistent with the trainer's decimal space. The
    // quantizer is fit ONCE per corpus and persisted (Artifacts.parquet,
    // fingerprint-keyed): probe runs load
    // the centroid parquet instead of re-running Lloyd — exactly how a
    // production index amortizes training. The oracle recomputes the
    // same deterministic fit in SQL, so cached and fresh runs are
    // bit-identical.
    QueryDef("ann_ivf_trained",
      (s, dir) => {
        val emb = Tables.read(s, dir, "embeddings")
        // Fixture key = content fingerprint of the ids AND the embedding
        // values (advice r13: an id-only stamp would silently reuse a
        // stale fit when vectors change under unchanged ids).
        val centroids = Artifacts.parquet(s,
            Artifacts.key("ivfq", dir, emb.select("vec_id", "embedding"))) {
          Similarity.fitQuantizer(emb, nlists = 8, iters = 1)
        }
        Similarity.ivfTrainedTopK(emb, centroids, nQueries = 5, k = 3,
          nprobe = 2)
      },
      Some(ivfTrainedOracle())),

    // Incremental IVF index maintenance (round-7): a 10% batch
    // (vec_id % 10 = 9) appends onto an index built from the other 90% —
    // quantizer fit ONCE on the base corpus, batch assigned to the
    // FROZEN centroids, lists extended, no refit (Similarity.ivfAppend:
    // appends touch only the delta). The oracle
    // assigns EVERY vector against the base-trained centroids in one
    // pass, so the hash gate proves append ≡ full-rebuild-assignment on
    // the same quantizer — the invariant that makes no-refit appends
    // legitimate. The drift gate (batch > 50% of index ⇒ refuse, refit
    // required) is spec-gated in ClusteringSpec.
    QueryDef("ann_ivf_append",
      (s, dir) => {
        val emb = Tables.read(s, dir, "embeddings")
        val base = emb.filter(col("vec_id") % 10 =!= 9)
        val batch = emb.filter(col("vec_id") % 10 === 9)
        // ONE exploded-decimal materialization of the corpus; base and
        // batch views are row-identical filters of it (the decimal cast
        // is row-wise), so fit, base assignment, and batch append share
        // one checkpoint instead of paying three (r15, guide §1.2: don't
        // compute things twice). fitQuantizer's result is already
        // checkpointed (kmeansFit pins each round) — the one fit is
        // shared by base assignment AND the batch append.
        val exAll = graft.ops.Clustering.explodeDecimal(emb)
        val exBase = exAll.filter(col("vec_id") % 10 =!= 9)
        val exBatch = exAll.filter(col("vec_id") % 10 === 9)
        val cen = Similarity.fitQuantizer(base, nlists = 8, iters = 1,
          exploded = Some(exBase))
        val baseIndex = Similarity.ivfAssign(base, cen, Some(exBase))
        Similarity.ivfAppend(baseIndex, batch, cen,
            batchExploded = Some(exBatch))
          .orderBy("vec_id")
      },
      Some(s"""WITH ex AS (
              |  SELECT vec_id, t.dim,
              |    CAST(CAST(embedding[t.dim + 1] AS DOUBLE) AS DECIMAL(12,8)) AS xq
              |  FROM embeddings CROSS JOIN range(64) t(dim)
              |  WHERE vec_id % 10 <> 9),
              |cen0 AS (SELECT CAST(vec_id AS INT) AS cluster, dim, xq AS cd
              |         FROM ex WHERE vec_id < 8),
              |s1 AS (SELECT e.vec_id, c.cluster, sum(e.xq * c.cd) AS dot
              |       FROM ex e JOIN cen0 c ON c.dim = e.dim GROUP BY 1, 2),
              |n1 AS (SELECT cluster, sum(cd*cd) AS cnorm FROM cen0 GROUP BY 1),
              |a1 AS (SELECT vec_id, cluster FROM (
              |        SELECT s1.vec_id, s1.cluster,
              |          row_number() OVER (PARTITION BY s1.vec_id
              |            ORDER BY n1.cnorm - 2*s1.dot, s1.cluster) AS rn
              |        FROM s1 JOIN n1 USING (cluster)) WHERE rn = 1),
              |cen1 AS (SELECT cluster, dim,
              |          CAST(CAST(sum(xq) AS DOUBLE)/count(*) AS DECIMAL(12,8)) AS cd
              |         FROM ex JOIN a1 USING (vec_id) GROUP BY 1, 2),
              |exall AS (
              |  SELECT vec_id, t.dim,
              |    CAST(CAST(embedding[t.dim + 1] AS DOUBLE) AS DECIMAL(12,8)) AS xq
              |  FROM embeddings CROSS JOIN range(64) t(dim)),
              |vn AS (SELECT vec_id, sqrt(CAST(sum(xq*xq) AS DOUBLE)) AS vnrm
              |       FROM exall GROUP BY 1),
              |cn AS (SELECT cluster, sqrt(CAST(sum(cd*cd) AS DOUBLE)) AS cnrm
              |       FROM cen1 GROUP BY 1),
              |dt AS (SELECT e.vec_id, c.cluster, sum(e.xq * c.cd) AS dt
              |       FROM exall e JOIN cen1 c ON c.dim = e.dim GROUP BY 1, 2),
              |cc AS (SELECT dt.vec_id, dt.cluster,
              |         round(CAST(dt.dt AS DOUBLE) / (vn.vnrm * cn.cnrm), 6) AS ccos
              |       FROM dt JOIN vn USING (vec_id) JOIN cn USING (cluster))
              |SELECT vec_id, list_id FROM (
              |  SELECT vec_id, cluster AS list_id, row_number() OVER (
              |    PARTITION BY vec_id ORDER BY ccos DESC, cluster) AS rn
              |  FROM cc) WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    // The refit leg of the IVF lifecycle (round-7 verdict item 5): the
    // index was built from a 60% base, the corpus has since grown past
    // the drift budget (ivfAppend REFUSES a 40% batch — spec-gated in
    // ClusteringSpec), so the quantizer is re-fit over the FULL corpus
    // and the persisted index is brought current by PATCHING — only
    // vectors whose list changed (plus new ids) are replaced, unchanged
    // rows carried through. The oracle is a FRESH fit+assign over the
    // whole corpus in SQL: the hash gate proves patch ≡ rebuild, the
    // invariant that makes patching an IO optimization rather than a
    // semantics change.
    QueryDef("ann_ivf_refit",
      (s, dir) => {
        val emb = Tables.read(s, dir, "embeddings")
        val base = emb.filter(col("vec_id") % 10 < 6)
        // ONE exploded-decimal materialization for the whole lifecycle:
        // base fit, base assignment, full-corpus refit, and the fresh
        // assignment all read one checkpoint (this query paid FOUR
        // separate explode materializations before r15 — JobTimeAudit:
        // 52 jobs, 18-25 s task time at sf0.1)
        val exAll = graft.ops.Clustering.explodeDecimal(emb)
        val exBase = exAll.filter(col("vec_id") % 10 < 6)
        val cen0 = Similarity.fitQuantizer(base, nlists = 8, iters = 1,
          exploded = Some(exBase))
        val baseIndex = Similarity.ivfAssign(base, cen0, Some(exBase))
        Similarity.ivfRefit(baseIndex, emb, nlists = 8, iters = 1,
            exploded = Some(exAll))
          .orderBy("vec_id")
      },
      Some("""WITH exall AS (
             |  SELECT vec_id, t.dim,
             |    CAST(CAST(embedding[t.dim + 1] AS DOUBLE) AS DECIMAL(12,8)) AS xq
             |  FROM embeddings CROSS JOIN range(64) t(dim)),
             |cen0 AS (SELECT CAST(vec_id AS INT) AS cluster, dim, xq AS cd
             |         FROM exall WHERE vec_id < 8),
             |s1 AS (SELECT e.vec_id, c.cluster, sum(e.xq * c.cd) AS dot
             |       FROM exall e JOIN cen0 c ON c.dim = e.dim GROUP BY 1, 2),
             |n1 AS (SELECT cluster, sum(cd*cd) AS cnorm FROM cen0 GROUP BY 1),
             |a1 AS (SELECT vec_id, cluster FROM (
             |        SELECT s1.vec_id, s1.cluster,
             |          row_number() OVER (PARTITION BY s1.vec_id
             |            ORDER BY n1.cnorm - 2*s1.dot, s1.cluster) AS rn
             |        FROM s1 JOIN n1 USING (cluster)) WHERE rn = 1),
             |cen1 AS (SELECT cluster, dim,
             |          CAST(CAST(sum(xq) AS DOUBLE)/count(*) AS DECIMAL(12,8)) AS cd
             |         FROM exall JOIN a1 USING (vec_id) GROUP BY 1, 2),
             |vn AS (SELECT vec_id, sqrt(CAST(sum(xq*xq) AS DOUBLE)) AS vnrm
             |       FROM exall GROUP BY 1),
             |cn AS (SELECT cluster, sqrt(CAST(sum(cd*cd) AS DOUBLE)) AS cnrm
             |       FROM cen1 GROUP BY 1),
             |dt AS (SELECT e.vec_id, c.cluster, sum(e.xq * c.cd) AS dt
             |       FROM exall e JOIN cen1 c ON c.dim = e.dim GROUP BY 1, 2),
             |cc AS (SELECT dt.vec_id, dt.cluster,
             |         round(CAST(dt.dt AS DOUBLE) / (vn.vnrm * cn.cnrm), 6) AS ccos
             |       FROM dt JOIN vn USING (vec_id) JOIN cn USING (cluster))
             |SELECT vec_id, list_id FROM (
             |  SELECT vec_id, cluster AS list_id, row_number() OVER (
             |    PARTITION BY vec_id ORDER BY ccos DESC, cluster) AS rn
             |  FROM cc) WHERE rn = 1 ORDER BY vec_id""".stripMargin)),

    // Product-quantization ANN: per-subspace 4-codeword codebooks (one
    // deterministic Lloyd round each, all 8 trained in ONE plan with the
    // subspace id riding the keys), vectors encoded as 8 codes, queries
    // scored by ADC lookup-table sums — the FAISS-PQ shape. See
    // ops/Similarity.pqTopK for the 100 TB layout (codes in memory, raw
    // vectors on disk; compose with IVF by pre-filtering `codes`).
    // r15: probe the SAME persisted PQ artifacts ann_recall audits
    // (fingerprint-keyed, built once per corpus) instead of re-training
    // the codebooks + code table in-plan on every run — the production
    // shape: the PQ index is persisted once, queries pay only the
    // query-side LUT + the ADC scan. Fits are deterministic and the
    // frames parquet-lossless, so the result is identical to the in-plan
    // fit (the equivalence ann_recall's oracle has gated since r13).
    QueryDef("ann_pq",
      (s, dir) => {
        val root = annArtifactsRoot(s, dir)
        Similarity.pqTopK(Tables.read(s, dir, "embeddings"),
          Artifacts.scan(s, s"$root/pq_codebooks"),
          Artifacts.scan(s, s"$root/pq_codes"), nQueries = 5, k = 3)
      },
      Some(pqOracle())),

    // Label separability: per-class centroids in the exploded-decimal
    // space (exact sums, means re-quantized once — the Lloyd idiom),
    // then the full centroid-pair cosine matrix. The "are my classes
    // distinguishable in embedding space" diagnostic; tiny output, one
    // corpus pass.
    QueryDef("embedding_label_separation",
      (s, dir) => {
        val cen = Tables.read(s, dir, "embeddings")
          .select(col("label"), posexplode(col("embedding"))
            .as(Seq("dim", "x")))
          .select(col("label"), col("dim"),
            col("x").cast("double").cast("decimal(12,8)").as("xq"))
          .groupBy("label", "dim")
          .agg((sum(col("xq")).cast("double") / count(lit(1)))
            .cast("decimal(12,8)").as("cd"))
        val a = cen.select(col("label").as("label_a"), col("dim"),
          col("cd").as("ca"))
        val b = cen.select(col("label").as("label_b"), col("dim"),
          col("cd").as("cb"))
        val dots = a.join(b, Seq("dim"))
          .filter(col("label_a") < col("label_b"))
          .groupBy("label_a", "label_b")
          .agg(sum(col("ca") * col("cb")).as("dt"))
        val nrm = cen.groupBy("label")
          .agg(sqrt(sum(col("cd") * col("cd")).cast("double")).as("nrm"))
        dots
          .join(nrm.select(col("label").as("label_a"),
            col("nrm").as("na")), "label_a")
          .join(nrm.select(col("label").as("label_b"),
            col("nrm").as("nb")), "label_b")
          .select(col("label_a"), col("label_b"),
            round(col("dt").cast("double") / (col("na") * col("nb")), 6)
              .as("centroid_cos"))
          .orderBy("label_a", "label_b")
      },
      Some("""WITH ex AS (
             |  SELECT label, t.dim AS dim,
             |    CAST(CAST(embedding[t.dim + 1] AS DOUBLE)
             |         AS DECIMAL(12,8)) AS xq
             |  FROM embeddings CROSS JOIN range(64) t(dim)),
             |cen AS (SELECT label, dim,
             |    CAST(CAST(sum(xq) AS DOUBLE)/count(*) AS DECIMAL(12,8)) AS cd
             |  FROM ex GROUP BY 1, 2),
             |nrm AS (SELECT label, sqrt(CAST(sum(cd*cd) AS DOUBLE)) AS nrm
             |  FROM cen GROUP BY 1),
             |dots AS (SELECT a.label AS label_a, b.label AS label_b,
             |    sum(a.cd * b.cd) AS dt
             |  FROM cen a JOIN cen b ON a.dim = b.dim AND a.label < b.label
             |  GROUP BY 1, 2)
             |SELECT label_a, label_b,
             |  round(CAST(dt AS DOUBLE) / (na.nrm * nb.nrm), 6)
             |    AS centroid_cos
             |FROM dots
             |JOIN nrm na ON na.label = label_a
             |JOIN nrm nb ON nb.label = label_b
             |ORDER BY label_a, label_b""".stripMargin)),

    // recall@k of the approximate indexes against the exact baseline —
    // turns "the index runs" into "the index is measured". Round-13: the
    // audit PROBES persisted artifacts (IVF inverted lists, PQ codebooks
    // + code table, fingerprint-keyed like ann_ivf_trained's quantizer)
    // instead of re-training them per run — the first run fits and
    // atomically publishes, every later run times the probes, which is
    // what a production recall audit times. Results are identical either
    // way (the fits are deterministic and the frames parquet-lossless),
    // so the oracle is unchanged.
    QueryDef("ann_recall",
      (s, dir) => {
        val root = annArtifactsRoot(s, dir)
        Similarity.annRecall(Tables.read(s, dir, "embeddings"),
          Artifacts.scan(s, s"$root/ivf_lists"),
          Artifacts.scan(s, s"$root/pq_codebooks"),
          Artifacts.scan(s, s"$root/pq_codes"), nQueries = 5, k = 3)
      },
      Some(annRecallOracle)),

    // Lloyd k-means over the embedding corpus (k=4, 2 iterations,
    // first-k init): all assignment math in exact DECIMAL, so the
    // cluster decisions — and hence the whole result — are
    // bit-reproducible in both engines. See ops/Clustering for the
    // per-iteration plan shape.
    QueryDef("cluster_kmeans",
      (s, dir) => graft.ops.Clustering.kmeansLloyd(
        Tables.read(s, dir, "embeddings"), k = 4, iters = 2),
      Some(kmeansOracle())),

    // Dominant principal direction of the embedding corpus (uncentered
    // PCA) by power iteration: ONE data-volume pass builds the 64×64
    // Gram matrix map-side (outer-product cells + partial agg — never a
    // corpus self-join), then every iteration is constant work on the
    // 4096-row Gram frame. Exact-DECIMAL discipline throughout; see
    // ops/Clustering.pcaPowerTop.
    QueryDef("embedding_pca_power",
      (s, dir) => graft.ops.Clustering.pcaPowerTop(
        Tables.read(s, dir, "embeddings"), iters = 4),
      Some(pcaOracle(4))),

    QueryDef("text_langid",
      (s, dir) => TextAnalysis.langId(Tables.read(s, dir, "documents")),
      Some(langIdOracle)),

    QueryDef("text_quality",
      (s, dir) => TextAnalysis.quality(Tables.read(s, dir, "documents")),
      Some(s"""SELECT doc_id, n_chars, n_tokens,
              |round(CAST(sum_tok_len AS DOUBLE) / n_tokens, 6) AS avg_token_len,
              |round(CAST(stop_hits AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
              |round(CAST(n_alpha AS DOUBLE) / n_chars, 6) AS alpha_ratio,
              |round(CAST(stop_hits AS DOUBLE) / n_tokens * 0.5 +
              |      CAST(n_alpha AS DOUBLE) / n_chars * 0.5, 6) AS quality_score
              |FROM (
              |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
              |    CAST(len(t) AS BIGINT) AS n_tokens,
              |    CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) AS sum_tok_len,
              |    CAST(len(list_filter(t, x -> x IN (${TextOps.StopEn.map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS stop_hits,
              |    CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha
              |  FROM ($toksCte))
              |ORDER BY doc_id""".stripMargin)),

    QueryDef("text_tokens",
      (s, dir) => TextAnalysis.tokenCounts(Tables.read(s, dir, "documents")),
      Some("""SELECT doc_id,
             |CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_ws_tokens,
             |CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS BIGINT) AS n_subword_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // BPE merge-table training (ops/Bpe.scala): batched-exact distributed
    // trainer (bit-identical to serial merge order, BpeSpec-gated). The
    // oracle unrolls the serial algorithm's 8 merges as CTE generations
    // (the graph_pagerank trick): each word is a boundary-marked string
    // (' a  b  c '), a merge is a left-to-right non-overlapping
    // replace(' l  r ' -> ' lr ') — exactly the greedy fold semantics —
    // and each argmax is a 1-row ORDER BY n DESC, l, r LIMIT 1 CTE.
    QueryDef("text_bpe_train",
      (s, dir) => graft.ops.Bpe.train(
        Tables.read(s, dir, "documents"), merges = 8),
      Some(bpeOracle(8))),

    // BPE ENCODE with the trained table (ops/Bpe.scala encode): the 8
    // merges replay per word as one static codegen'd fold expression.
    // Declared-oracle'd in round 5: the oracle re-trains the same 8 CTE
    // generations, then encodes each DISTINCT word by replaying the
    // merges as sequential boundary-marked replaces (the replace ≡
    // greedy-fold identity the trainer oracle already rests on) and
    // joins token counts back onto per-doc occurrences. BpeSpec
    // independently proves encode(train(c)) matches a serial encoder.
    QueryDef("text_bpe_encode",
      (s, dir) => {
        val docs = Tables.read(s, dir, "documents")
        graft.ops.Bpe.encode(docs,
          graft.ops.Bpe.train(docs, merges = 8))
      },
      Some(bpeEncodeOracle(8))),

    QueryDef("text_fingerprint",
      (s, dir) => TextAnalysis.fingerprints(Tables.read(s, dir, "documents")),
      Some(s"""WITH n AS (SELECT doc_id, lower(trim(text)) AS txt FROM documents),
              |g AS (SELECT doc_id, txt,
              |  unnest(generate_series(1,
              |    CASE WHEN length(txt) >= 8 THEN length(txt) - 7 ELSE 1 END)) AS i
              |  FROM n),
              |r AS (SELECT doc_id, min(${Sql.hash64("substr(txt, i, 8)")}) AS fp_rolling
              |      FROM g GROUP BY doc_id)
              |SELECT n.doc_id, ${Sql.hashKey("txt")} AS fp_md5, fp_rolling
              |FROM n JOIN r ON n.doc_id = r.doc_id ORDER BY n.doc_id""".stripMargin)),

    QueryDef("multimodal_meta",
      (s, dir) => Multimodal.metadata(Tables.read(s, dir, "documents")),
      Some(s"""SELECT doc_id,
              |CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
              |upper(substr(hex(encode(text)), 1, 8)) AS magic_hex,
              |${Sql.hash64("'w|' || CAST(doc_id AS VARCHAR)")} % 1920 AS width,
              |${Sql.hash64("'h|' || CAST(doc_id AS VARCHAR)")} % 1080 AS height,
              |CAST(octet_length(encode(text)) % 240 AS BIGINT) AS n_frames
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL header decode: syntheticMedia builds valid PNG/JPEG/GIF bytes
    // (dims from the stable hash, doc text as body / a variable-length
    // JPEG COM segment), the codegen'd graft_image_dims expression parses
    // them back (BE 32-bit IHDR, JPEG marker-segment scan to SOF0, LE
    // 16-bit GIF screen descriptor). The oracle recomputes the embedded
    // dims from doc_id — green only if the parser inverts the constructor.
    QueryDef("multimodal_decode",
      (s, dir) => Multimodal.decodedDims(Tables.read(s, dir, "documents")),
      Some(s"""SELECT doc_id,
              |CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png'
              |     WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
              |CAST(${Sql.hash64("'iw|' || CAST(doc_id AS VARCHAR)")} % 1920 + 1 AS INT) AS width,
              |CAST(${Sql.hash64("'ih|' || CAST(doc_id AS VARCHAR)")} % 1080 + 1 AS INT) AS height
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // REAL audio header decode: syntheticAudio builds valid WAV/RIFF
    // bytes (PCM params from the stable hash, doc text as sample data, a
    // LIST chunk wedged in so the parser must actually walk chunks), the
    // codegen'd graft_audio_meta expression parses them back. The oracle
    // recomputes the embedded parameters from doc_id — green only if the
    // chunk walk inverts the constructor.
    QueryDef("multimodal_audio_meta",
      (s, dir) => Multimodal.decodedAudio(Tables.read(s, dir, "documents")),
      Some(s"""WITH p AS (SELECT doc_id,
              |  ${Sql.hash64("'ch|' || CAST(doc_id AS VARCHAR)")} % 2 + 1 AS ch,
              |  CASE ${Sql.hash64("'sr|' || CAST(doc_id AS VARCHAR)")} % 3
              |    WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS sr,
              |  ${Sql.hash64("'bw|' || CAST(doc_id AS VARCHAR)")} % 2 + 1 AS bps,
              |  ${Sql.hash64("'ns|' || CAST(doc_id AS VARCHAR)")} % 1000 + 1 AS ns
              |  FROM documents)
              |SELECT doc_id, CAST(ch AS INT) AS channels,
              |  CAST(sr AS INT) AS sample_rate,
              |  CAST(bps * 8 AS INT) AS bits,
              |  CAST(ns AS BIGINT) AS n_samples,
              |  CAST((ns * ch * bps * 1000) // (sr * ch * bps) AS BIGINT)
              |    AS duration_ms
              |FROM p ORDER BY doc_id""".stripMargin)),

    // binary content-hash dedup: only the 16-byte digest shuffles, never
    // the media payload — the multimodal face of dedup_exact
    QueryDef("multimodal_dedup",
      (s, dir) => Multimodal.dedupPayloads(Tables.read(s, dir, "documents")),
      Some("""SELECT md5(text) AS digest,
             |min(doc_id) AS canonical_id, count(*) AS n_copies
             |FROM documents GROUP BY 1 HAVING count(*) > 1
             |ORDER BY canonical_id""".stripMargin)),

    QueryDef("text_ngram_stats",
      (s, dir) => TextAnalysis.ngramStats(Tables.read(s, dir, "documents")),
      Some(s"""WITH toks AS ($toksCte),
              |b AS (SELECT unnest(CASE WHEN len(t) >= 2
              |        THEN [t[i] || ' ' || t[i+1] for i in generate_series(1, len(t)-1)]
              |        ELSE []::VARCHAR[] END) AS sh FROM toks)
              |SELECT sh, count(*) AS n FROM b GROUP BY sh
              |ORDER BY n DESC, sh LIMIT 20""".stripMargin)),

    // Bigram-LM scoring (ops/TextAnalysis.bigramLmScore): the corpus's own
    // bigram model scores each document's transition fluency. Fixed-point
    // ppm `div` keeps the aggregate bit-identical to the oracle.
    QueryDef("text_ngram_lm",
      (s, dir) => TextAnalysis.bigramLmScore(Tables.read(s, dir, "documents")),
      Some(s"""WITH toks AS ($toksCte),
              |bg AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 2
              |    THEN [{'w1': t[i], 'w2': t[i+1]} for i in generate_series(1, len(t)-1)]
              |    ELSE [] END, recursive := true) FROM toks),
              |uni AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
              |bi AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2)
              |SELECT doc_id, count(*) AS n_bigrams,
              |round(CAST(sum((c12 * 1000000) // c1) AS DOUBLE) / count(*), 6)
              |  AS avg_p_ppm
              |FROM bg JOIN bi USING (w1, w2) JOIN uni USING (w1)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef("text_scrub",
      (s, dir) => TextAnalysis.scrub(Tables.read(s, dir, "documents")),
      Some(s"""SELECT doc_id,
              |substr(array_to_string(list_transform(t, x ->
              |  CASE WHEN x IN (${TextOps.StopEn.map(w => s"'$w'").mkString(", ")})
              |       THEN '<sw>' ELSE x END), ' '), 1, 120) AS scrubbed_head,
              |CAST(len(list_filter(t, x -> x IN (${TextOps.StopEn.map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS n_masked
              |FROM ($toksCte) ORDER BY doc_id""".stripMargin)),

    // BM25 retrieval: the search side of the postings/tfidf index family.
    // The query is self-derived (top-3 df tokens, ties by token) so it is
    // meaningful at every SF; the per-doc score folds the ranked term
    // weights in a FIXED order (w1+w2+w3 via per-rank conditional aggs) —
    // see TextAnalysis.bm25TopK.
    QueryDef("text_bm25",
      (s, dir) => TextAnalysis.bm25TopK(Tables.read(s, dir, "documents")),
      Some(bm25Oracle)),

    QueryDef("multimodal_frames",
      (s, dir) => Multimodal.frameSample(Tables.read(s, dir, "documents")),
      Some("""SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
             |upper(substr(hx, frame_idx * 64 + 1, 16)) AS frame_hex
             |FROM (
             |  SELECT doc_id, hex(encode(text)) AS hx,
             |    unnest(generate_series(0,
             |      greatest((octet_length(encode(text)) - 8) // 32, 0))) AS frame_idx
             |  FROM documents)
             |ORDER BY doc_id, frame_idx""".stripMargin)),

    QueryDef("stream_window_agg",
      (s, dir) => Streams.windowedAggBatch(s, dir),
      Some("""SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
             |event_type, count(*) AS n_events,
             |CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Stream-stream interval join, declared through its batch twin (same
    // transform; StreamJoinSpec proves the watermarked streaming pass over
    // the same files emits exactly these rows): purchases within 10
    // minutes after a click by the same user.
    QueryDef("stream_join",
      (s, dir) => graft.streaming.StreamJoins.clickPurchaseBatch(s, dir)
        .orderBy("user_id", "c_id", "p_id"),
      Some("""WITH c AS (SELECT user_id AS c_user, ts AS c_ts, event_id AS c_id
             |  FROM events WHERE event_type = 'click'),
             |p AS (SELECT user_id AS p_user, ts AS p_ts, event_id AS p_id
             |  FROM events WHERE event_type = 'purchase')
             |SELECT c_user AS user_id, c_id, p_id
             |FROM c JOIN p ON c_user = p_user
             |  AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 10 MINUTE
             |ORDER BY user_id, c_id, p_id""".stripMargin)),

    // Exactly-once under at-least-once delivery: duplicate-injected input
    // (every 10th event re-delivered), dedup on the id, aggregate — the
    // result must equal the clean table's aggregate, which is what the
    // oracle runs. Streaming face: dropDuplicatesWithinWatermark
    // (StreamDedupSpec drives replay waves through the file source).
    QueryDef("stream_dedup",
      (s, dir) => Streams.dedupBatch(s, dir),
      Some("""SELECT event_type, count(*) AS n_events,
             |CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // SemDeDup (Abbas et al. 2023): semantic dedup = k-cluster the
    // embedding space (frozen lowest-id centroids, broadcast argmax
    // assignment), prune near-dups WITHIN clusters only, with the
    // adaptive hyperplane bucket as a second block so a skewed cluster
    // can't go quadratic. Keep-lowest-id; per-cluster census output
    // (domain-bounded k rows, drop decisions hashed via the id sum).
    QueryDef("dedup_semantic",
      (s, dir) => Similarity.semanticDedup(
        Tables.read(s, dir, "embeddings"),
        Tables.rowCount(s, dir, "embeddings")),
      Some(s"""WITH ${adaptiveBitsCte(4)},
              |e AS (SELECT vec_id, embedding, ${nrmSql("embedding")} AS nrm
              |  FROM embeddings),
              |c AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cnrm
              |  FROM e WHERE vec_id < 8),
              |sc AS (SELECT e.vec_id, e.embedding, e.nrm, c.cid,
              |    ${cosSql("cv", "e.embedding", "cnrm", "e.nrm")} AS ccos
              |  FROM e CROSS JOIN c),
              |asg AS (SELECT vec_id, embedding, nrm, cid FROM (
              |    SELECT *, row_number() OVER (PARTITION BY vec_id
              |      ORDER BY ccos DESC, cid) AS rn FROM sc) WHERE rn = 1),
              |bk AS (SELECT vec_id, embedding, nrm, cid,
              |    ${adaptiveBucketSql("embedding", 16)} AS bucket
              |  FROM asg CROSS JOIN ab),
              |dropped AS (SELECT DISTINCT b.cid, b.vec_id
              |  FROM bk a JOIN bk b
              |    ON a.cid = b.cid AND a.bucket = b.bucket
              |      AND a.vec_id < b.vec_id
              |  WHERE ${cosSql("a.embedding", "b.embedding", "a.nrm", "b.nrm")} >= 0.35),
              |census AS (SELECT cid, count(*) AS n_vecs FROM asg GROUP BY cid),
              |dc AS (SELECT cid, count(*) AS nd, sum(vec_id) AS ds
              |  FROM dropped GROUP BY cid)
              |SELECT CAST(census.cid AS BIGINT) AS cluster_id,
              |  CAST(census.n_vecs AS BIGINT) AS n_vecs,
              |  CAST(coalesce(dc.nd, 0) AS BIGINT) AS n_dropped,
              |  CAST(coalesce(dc.ds, 0) AS BIGINT) AS dropped_id_sum
              |FROM census LEFT JOIN dc USING (cid)
              |ORDER BY cluster_id""".stripMargin)),

    // Tokenizer fertility per language: chars/token and tokens/doc ppm —
    // the numbers that turn a char-budgeted multilingual mix into a
    // token-budgeted one. Map-side-combinable agg, |langs| output rows.
    QueryDef("text_fertility",
      (s, dir) => TextAnalysis.fertility(Tables.read(s, dir, "documents")),
      Some(s"""WITH toks AS ($toksCte),
              |per AS (SELECT doc_id, lang,
              |    greatest(CAST(len(t) AS BIGINT), 1) AS n_toks,
              |    CAST(coalesce(list_sum(list_transform(t, x -> length(x))), 0)
              |      AS BIGINT) AS tok_chars,
              |    CAST(length(text) AS BIGINT) AS n_chars
              |  FROM toks)
              |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
              |  CAST(sum(tok_chars) * 1000000 // sum(n_toks) AS BIGINT)
              |    AS chars_per_token_ppm,
              |  CAST(sum(n_toks) * 1000000 // count(*) AS BIGINT)
              |    AS tokens_per_doc_ppm,
              |  CAST(sum(n_chars) * 1000000 // sum(n_toks) AS BIGINT)
              |    AS text_chars_per_token_ppm
              |FROM per GROUP BY lang ORDER BY lang""".stripMargin)),

    // Fluency deciles over the corpus's own bigram-LM score (the
    // text_ngram_lm surface bucketed for curation): EXACT decile of every
    // scored doc via the NATIVE global-rank operator's NTile mode
    // (plans/GlobalRank — range exchange + count pass; no
    // single-partition window at any N), whose bucket rule is Spark's
    // ntile, so the plain-ntile oracle gates the distributed plan
    // exactly. The perplexity-filter step of a curation
    // pipeline: drop/downweight the bottom deciles.
    QueryDef("text_perplexity_bucket",
      (s, dir) => {
        val lm = TextAnalysis.bigramLmScore(Tables.read(s, dir, "documents"))
          .select("doc_id", "n_bigrams", "avg_p_ppm")
        // The native NTile mode computes the decile from position + the
        // summary pass's total — ONE operator, no rank + count subplan
        graft.plans.GlobalRank.withNTile(lm, "decile", 10,
            ("avg_p_ppm", true), ("doc_id", true))
          .select(col("decile"), col("n_bigrams"), col("avg_p_ppm"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_bigrams")).as("n_bigrams"),
            min(col("avg_p_ppm")).as("min_score"),
            max(col("avg_p_ppm")).as("max_score"))
          .orderBy("decile")
      },
      Some(s"""WITH toks AS ($toksCte),
              |bg AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 2
              |    THEN [{'w1': t[i], 'w2': t[i+1]} for i in generate_series(1, len(t)-1)]
              |    ELSE [] END, recursive := true) FROM toks),
              |uni AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
              |bi AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
              |lm AS (SELECT doc_id, count(*) AS n_bigrams,
              |    round(CAST(sum((c12 * 1000000) // c1) AS DOUBLE) / count(*), 6)
              |      AS avg_p_ppm
              |  FROM bg JOIN bi USING (w1, w2) JOIN uni USING (w1)
              |  GROUP BY doc_id),
              |r AS (SELECT n_bigrams, avg_p_ppm,
              |    ntile(10) OVER (ORDER BY avg_p_ppm, doc_id) AS decile
              |  FROM lm)
              |SELECT CAST(decile AS BIGINT) AS decile,
              |  CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams,
              |  min(avg_p_ppm) AS min_score, max(avg_p_ppm) AS max_score
              |FROM r GROUP BY decile ORDER BY decile""".stripMargin)),

    // Exact confusion census for the langid heuristic vs the labeled
    // corpus — the contingency every agreement metric reads; one
    // map-side-combinable pass, |langs|² output rows.
    QueryDef("eval_confusion_matrix",
      (s, dir) => graft.ops.Evaluate.confusionCells(
          TextAnalysis.langId(Tables.read(s, dir, "documents")),
          "predicted", "lang")
        .orderBy("predicted", "actual"),
      Some(s"""SELECT predicted, lang AS actual,
              |  CAST(count(*) AS BIGINT) AS n
              |FROM ($langPredSql)
              |GROUP BY 1, 2 ORDER BY predicted, actual""".stripMargin)),

    // Cohen's kappa of langid vs truth — agreement corrected for chance
    // (the honest number when one class dominates, where raw accuracy
    // flatters). Everything after the one corpus pass is |langs|-bounded;
    // exact BIGINT products, one 6-dp division per ratio.
    QueryDef("eval_cohen_kappa",
      (s, dir) => graft.ops.Evaluate.cohenKappa(
        TextAnalysis.langId(Tables.read(s, dir, "documents")),
        "predicted", "lang"),
      Some(s"""WITH cells AS (SELECT predicted, lang AS actual,
              |    count(*) AS n FROM ($langPredSql) GROUP BY 1, 2),
              |t AS (SELECT CAST(sum(n) AS BIGINT) AS t,
              |  CAST(sum(CASE WHEN predicted = actual THEN n ELSE 0 END)
              |    AS BIGINT) AS agree FROM cells),
              |rm AS (SELECT predicted AS k, sum(n) AS r FROM cells GROUP BY 1),
              |cm AS (SELECT actual AS k, sum(n) AS c FROM cells GROUP BY 1),
              |pe AS (SELECT CAST(coalesce(sum(r * c), 0) AS BIGINT) AS pen
              |  FROM rm JOIN cm USING (k))
              |SELECT t AS n_docs, agree AS n_agree,
              |  round(CAST(agree AS DOUBLE) / t, 6) AS po,
              |  round(CAST(pen AS DOUBLE) / (CAST(t AS DOUBLE) * t), 6) AS pe,
              |  round(CAST(t * agree - pen AS DOUBLE)
              |    / CAST(t * t - pen AS DOUBLE), 6) AS kappa
              |FROM t CROSS JOIN pe""".stripMargin)),

    // Per-class precision/recall/F1 over the langid confusion census —
    // the multiclass report card beside kappa's single number. |langs|
    // output rows; exact BIGINT counts, 6-dp ratios; a class never
    // predicted reports NULL precision (never a fake 0).
    QueryDef("eval_f1_per_class",
      (s, dir) => graft.ops.Evaluate.f1PerClass(
        TextAnalysis.langId(Tables.read(s, dir, "documents")),
        "predicted", "lang"),
      Some(s"""WITH cells AS (SELECT predicted, lang AS actual,
              |    count(*) AS n FROM ($langPredSql) GROUP BY 1, 2),
              |rm AS (SELECT predicted AS label, CAST(sum(n) AS BIGINT)
              |    AS n_pred FROM cells GROUP BY 1),
              |cm AS (SELECT actual AS label, CAST(sum(n) AS BIGINT)
              |    AS n_act FROM cells GROUP BY 1),
              |tp AS (SELECT predicted AS label, CAST(n AS BIGINT) AS tp0
              |  FROM cells WHERE predicted = actual),
              |j AS (SELECT label, coalesce(n_pred, 0) AS n_pred,
              |    coalesce(n_act, 0) AS n_act, coalesce(tp0, 0) AS tp
              |  FROM rm FULL JOIN cm USING (label)
              |    LEFT JOIN tp USING (label))
              |SELECT label, n_pred, n_act, tp,
              |  CASE WHEN n_pred > 0
              |    THEN round(CAST(tp AS DOUBLE) / n_pred, 6) END AS precision,
              |  CASE WHEN n_act > 0
              |    THEN round(CAST(tp AS DOUBLE) / n_act, 6) END AS recall,
              |  round(2.0 * tp / (n_pred + n_act), 6) AS f1
              |FROM j ORDER BY label""".stripMargin)),

    // Binary Matthews correlation for the is-English one-vs-rest task —
    // the skew-honest single quality number (accuracy flatters when one
    // class dominates; MCC needs all four cells to be good). Exact LONG
    // cells from one combinable pass; per-factor IEEE sqrt keeps the
    // denominator bit-identical across engines.
    QueryDef("eval_mcc",
      (s, dir) => graft.ops.Evaluate.mccBinary(
        TextAnalysis.langId(Tables.read(s, dir, "documents")),
        "predicted", "lang", positive = "en"),
      Some(s"""WITH b AS (SELECT
              |    CAST(predicted = 'en' AS BIGINT) AS p,
              |    CAST(lang = 'en' AS BIGINT) AS a
              |  FROM ($langPredSql)),
              |c AS (SELECT CAST(sum(p * a) AS BIGINT) AS tp,
              |    CAST(sum(p * (1 - a)) AS BIGINT) AS fp,
              |    CAST(sum((1 - p) * a) AS BIGINT) AS fn,
              |    CAST(sum((1 - p) * (1 - a)) AS BIGINT) AS tn
              |  FROM b)
              |SELECT tp, fp, fn, tn,
              |  CASE WHEN sqrt(CAST(tp + fp AS DOUBLE)) *
              |      sqrt(CAST(tp + fn AS DOUBLE)) *
              |      sqrt(CAST(tn + fp AS DOUBLE)) *
              |      sqrt(CAST(tn + fn AS DOUBLE)) > 0
              |    THEN round(CAST(tp * tn - fp * fn AS DOUBLE) /
              |      (sqrt(CAST(tp + fp AS DOUBLE)) *
              |       sqrt(CAST(tp + fn AS DOUBLE)) *
              |       sqrt(CAST(tn + fp AS DOUBLE)) *
              |       sqrt(CAST(tn + fn AS DOUBLE))), 6)
              |    ELSE 0.0 END AS mcc
              |FROM c""".stripMargin))
  )

  // ---- generated oracles --------------------------------------------------

  /** Shared CTE chain: tokens -> exploded shingles -> 16-col signatures ->
    * banded rows (mirror of Dedup.bandedSignatures). `shl` additionally
    * exposes each doc's full shingle array for exact-verify stages.
    */
  private lazy val bandedCtesSql: String = {
    val sigCols = (0 until Dedup.MinhashSigs)
      .map(i => s"min((${Dedup.minhashA(i)} * h + ${Dedup.minhashB(i)}) % ${Dedup.MinhashP}) AS s$i")
      .mkString(",\n  ")
    val rowsPerBand = Dedup.MinhashSigs / Dedup.MinhashBands
    val bandSelects = (0 until Dedup.MinhashBands).map { b =>
      val bh = Sql.hash64(
        (0 until rowsPerBand)
          .map(r => s"CAST(s${b * rowsPerBand + r} AS VARCHAR)")
          .mkString(" || '|' || "))
      val sigs = (0 until Dedup.MinhashSigs).map(i => s"s$i").mkString(", ")
      s"SELECT doc_id, $b AS band, $bh AS bh, $sigs FROM sig"
    }.mkString("\nUNION ALL\n")
    s"""toks AS ($toksCte),
       |shl AS (SELECT doc_id, $shinglesExpr AS shingles FROM toks),
       |sh AS (SELECT doc_id, ${Sql.hash64("sh")} % ${Dedup.MinhashP} AS h FROM
       |       (SELECT doc_id, unnest(shingles) AS sh FROM shl)),
       |sig AS (SELECT doc_id,
       |  $sigCols
       |  FROM sh GROUP BY doc_id),
       |banded AS (
       |$bandSelects)""".stripMargin
  }

  private lazy val minhashOracle: String = {
    val matches = (0 until Dedup.MinhashSigs)
      .map(i => s"CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $bandedCtesSql
       |SELECT doc_a, doc_b, est_sim FROM (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST($matches AS DOUBLE) / ${Dedup.MinhashSigs} AS est_sim
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
       |WHERE est_sim >= 0.5 ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Mirror of Dedup.incrementalFlags: corpus band keys distinct'd into
    * the "store", new-batch bands semi-join it, unmatched new docs (and
    * docs too short to shingle) report false.
    */
  private lazy val incrementalOracle: String =
    s"""WITH $bandedCtesSql,
       |store AS (SELECT DISTINCT band, bh FROM banded WHERE doc_id % 10 <> 0),
       |hits AS (SELECT DISTINCT b.doc_id FROM banded b
       |         JOIN store USING (band, bh) WHERE b.doc_id % 10 = 0)
       |SELECT d.doc_id, (h.doc_id IS NOT NULL) AS is_dup
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
       |LEFT JOIN hits h USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Mirror of Dedup.cluster: minhash pair edges, then 3 fixed rounds of
    * min-label propagation (label = min over self + neighbors).
    */
  /** The min-label-propagation cluster chain (banded signatures, est-sim
    * pairs, 3 label rounds ending in `l3`) — shared by the cluster oracle
    * and the keep-best representative oracle.
    */
  private lazy val clusterCtesSql: String = {
    val matches = (0 until Dedup.MinhashSigs)
      .map(i => s"CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    def round(prev: String, cur: String): String =
      s"""$cur AS (SELECT doc_id, min(label) AS label FROM (
         |  SELECT doc_id, label FROM $prev
         |  UNION ALL
         |  SELECT e.doc_a AS doc_id, l.label FROM edges e
         |  JOIN $prev l ON e.doc_b = l.doc_id)
         |GROUP BY doc_id)""".stripMargin
    s"""$bandedCtesSql,
       |pairs AS (SELECT doc_a, doc_b FROM (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST($matches AS DOUBLE) / ${Dedup.MinhashSigs} AS est_sim
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
       |  WHERE est_sim >= 0.5),
       |edges AS (SELECT doc_a, doc_b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |l0 AS (SELECT DISTINCT doc_a AS doc_id, doc_a AS label FROM edges),
       |${round("l0", "l1")},
       |${round("l1", "l2")},
       |${round("l2", "l3")}""".stripMargin
  }

  private lazy val clusterOracle: String =
    s"""WITH $clusterCtesSql
       |SELECT doc_id, label AS canonical_id FROM l3 ORDER BY doc_id""".stripMargin

  /** Mirror of Dedup.clusterLss: the converged large-star/small-star
    * result is the TRUE component minimum, so the oracle is exact
    * reachability — a recursive CTE walking the minhash pair edges and
    * taking min over everything reachable. (No round unrolling: LSS
    * detects convergence, so the answer is round-count-independent.)
    */
  private lazy val lssOracle: String = {
    val matches = (0 until Dedup.MinhashSigs)
      .map(i => s"CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH RECURSIVE $bandedCtesSql,
       |pairs AS (SELECT doc_a, doc_b FROM (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST($matches AS DOUBLE) / ${Dedup.MinhashSigs} AS est_sim
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
       |  WHERE est_sim >= 0.5),
       |edges AS (SELECT doc_a, doc_b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |walk(doc_id, reach) AS (
       |  SELECT DISTINCT doc_a, doc_a FROM edges
       |  UNION
       |  SELECT w.doc_id, e.doc_b FROM walk w JOIN edges e ON e.doc_a = w.reach)
       |SELECT doc_id, min(reach) AS canonical_id FROM walk
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  private lazy val ngramJaccardOracle: String =
    s"""WITH $bandedCtesSql,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM banded a JOIN banded b
       |           ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, jaccard FROM (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
       |      (len(sa.shingles) + len(sb.shingles)
       |       - len(list_intersect(sa.shingles, sb.shingles))) AS jaccard
       |  FROM cand
       |  JOIN shl sa ON sa.doc_id = doc_a
       |  JOIN shl sb ON sb.doc_id = doc_b)
       |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin

  /** join_set_similarity oracle. The VERIFICATION side is algorithm-
    * independent (exact list-intersection Jaccard over the original
    * shingle sets); the CANDIDATE side mirrors the engine's prefix +
    * length + position filters because the synthetic corpus's tiny
    * shingle vocabulary (931 distinct shingles across 5,000 sf0.1 docs)
    * makes every algorithm-independent candidate rule quadratic — the
    * "any shared shingle" form materializes 10.3M of the 12.5M possible
    * pairs at sf0.1 and ~1B at sf1, unrunnable as a gate. Completeness of
    * the prefix filter itself is gated where it belongs: OpsSpec compares
    * setSimilarityJoin against brute-force all-pairs Jaccard on an
    * adversarial corpus (see "prefix filter loses no pair").
    */
  private lazy val setSimJoinOracle: String =
    s"""WITH toks AS ($toksCte),
       |shl AS (SELECT doc_id, $shinglesExpr AS shs FROM toks),
       |s2 AS (SELECT doc_id,
       |         list_transform(shs, sgl -> ${Sql.hash64("sgl")}) AS sh
       |       FROM shl WHERE len(shs) > 0),
       |tok AS (SELECT doc_id, unnest(sh) AS g FROM s2),
       |dfr AS (SELECT g, count(*) AS df FROM tok GROUP BY 1),
       |srt AS (SELECT t.doc_id, list(t.g ORDER BY d.df, t.g) AS sorted
       |        FROM tok t JOIN dfr d ON t.g = d.g GROUP BY 1),
       |pe AS (SELECT doc_id, len(sorted) AS n,
       |         unnest([{'p': i, 'g': sorted[i]} for i in generate_series(1,
       |           len(sorted) - CAST(ceil(0.5 * len(sorted)) AS BIGINT) + 1)],
       |           recursive := true)
       |       FROM srt),
       |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM pe a JOIN pe b
       |           ON a.g = b.g AND a.doc_id < b.doc_id
       |              AND b.n >= 0.5 * a.n AND a.n >= 0.5 * b.n
       |         GROUP BY 1, 2
       |         HAVING least(min(a.n) - min(a.p) + 1,
       |                      min(b.n) - min(b.p) + 1) >=
       |                ceil((0.5 / 1.5) * (min(a.n) + min(b.n)))),
       |j AS (SELECT doc_a, doc_b,
       |        CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) AS inter,
       |        len(sa.sh) AS na, len(sb.sh) AS nb
       |      FROM cand
       |      JOIN s2 sa ON sa.doc_id = doc_a
       |      JOIN s2 sb ON sb.doc_id = doc_b)
       |SELECT doc_a, doc_b,
       |  round(inter / (na + nb - inter), 6) AS jaccard
       |FROM j WHERE inter * (1.0 + 0.5) >= 0.5 * (na + nb)
       |ORDER BY doc_a, doc_b""".stripMargin

  /** text_bm25 oracle: term-for-term mirror of TextAnalysis.bm25TopK —
    * identical double expression trees (left-associative, (1.2 + 1.0)
    * spelled as the sum so both engines fold the same literals) and the
    * same fixed-order w1+w2+w3 score fold.
    */
  private lazy val bm25Oracle: String =
    s"""WITH toks AS ($toksCte),
       |tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
       |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
       |st AS (SELECT count(*) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl
       |       FROM dl),
       |dfr AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
       |q AS (SELECT tok, df,
       |        row_number() OVER (ORDER BY df DESC, tok) AS qr
       |      FROM dfr ORDER BY df DESC, tok LIMIT 3),
       |tf AS (SELECT t.doc_id, q.qr, q.df, count(*) AS tf
       |       FROM tok t JOIN q ON t.tok = q.tok GROUP BY 1, 2, 3),
       |w AS (SELECT tf.doc_id, tf.qr,
       |        ln((CAST(st.n AS DOUBLE) - tf.df + 0.5)
       |             / (CAST(tf.df AS DOUBLE) + 0.5) + 1.0)
       |          * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
       |          / (CAST(tf.tf AS DOUBLE)
       |             + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / st.avgdl))
       |          AS w
       |      FROM tf JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN st),
       |g AS (SELECT doc_id,
       |        max(CASE WHEN qr = 1 THEN w END) AS w1,
       |        max(CASE WHEN qr = 2 THEN w END) AS w2,
       |        max(CASE WHEN qr = 3 THEN w END) AS w3,
       |        count(*) AS n_match
       |      FROM w GROUP BY 1)
       |SELECT doc_id,
       |  round(coalesce(w1, 0.0) + coalesce(w2, 0.0) + coalesce(w3, 0.0), 6)
       |    AS score, n_match
       |FROM g ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  private lazy val containmentOracle: String =
    s"""WITH $bandedCtesSql,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM banded a JOIN banded b
       |           ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, cont_a_in_b, cont_b_in_a FROM (
       |  SELECT doc_a, doc_b,
       |    round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
       |          / len(sa.shingles), 6) AS cont_a_in_b,
       |    round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
       |          / len(sb.shingles), 6) AS cont_b_in_a
       |  FROM cand
       |  JOIN shl sa ON sa.doc_id = doc_a
       |  JOIN shl sb ON sb.doc_id = doc_b)
       |WHERE greatest(cont_a_in_b, cont_b_in_a) >= 0.7
       |ORDER BY doc_a, doc_b""".stripMargin

  private lazy val simhashOracle: String = {
    val bitSums = (0 until Dedup.SimhashBits)
      .map(j => s"SUM(CASE WHEN (th >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(",\n  ")
    val fpExpr = (0 until Dedup.SimhashBits)
      .map(j => s"(CASE WHEN b$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    // Mirror of Dedup.simhashNumBlocks: smallest ladder rung B with
    // combos(B)·n ≤ 2^width(B)·target (integer-only; thresholds are
    // BigInt-exact literals), falling back to the last rung.
    val k = Dedup.SimhashMaxHamming
    val ladderCases = Dedup.SimhashBlockLadder.map { b =>
      val width = Dedup.SimhashBits * (b - k) / b
      val combos = (0 until b).combinations(b - k).size
      val thr = (BigInt(1) << width) * Dedup.SimhashTargetPerDoc / combos
      s"WHEN n <= $thr THEN $b"
    }.mkString(" ")
    // Mirror of Dedup.simhashComboKeys at EVERY rung, each branch gated on
    // the rule's chosen block count — the inert rungs contribute 0 rows.
    val bandSelects = Dedup.SimhashBlockLadder.flatMap { b =>
      val w = Dedup.SimhashBits / b
      val mask = (1L << w) - 1
      (0 until b).combinations(b - k).toSeq.zipWithIndex.map {
        case (combo, ci) =>
          val key = combo.zipWithIndex.map { case (blk, i) =>
            s"(((fp >> ${blk * w}) & $mask) << ${i * w})"
          }.mkString(" + ")
          s"SELECT doc_id, fp, $ci AS band, $key AS bv FROM fp " +
            s"WHERE (SELECT b FROM nb) = $b"
      }
    }.mkString("\nUNION ALL\n")
    s"""WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok FROM documents),
       |th AS (SELECT doc_id, ${Sql.hash64("tok")} AS th FROM toks),
       |sums AS (SELECT doc_id,
       |  $bitSums
       |  FROM th GROUP BY doc_id),
       |fp AS (SELECT doc_id, $fpExpr AS fp FROM sums),
       |nb AS (SELECT CASE $ladderCases
       |         ELSE ${Dedup.SimhashBlockLadder.last} END AS b
       |       FROM (SELECT count(*) AS n FROM documents)),
       |banded AS (
       |$bandSelects)
       |SELECT doc_a, doc_b, hamming FROM (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
       |WHERE hamming <= $k ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Mirror of Similarity.embeddingNearDupsBanded (4 bands × 6 bits,
    * "band|p|i" hyperplane seeds, OR-amplified candidates, exact verify).
    */
  private lazy val bandedEmbeddingOracle: String =
    s"""WITH ${adaptiveBandedCandSql()}
       |SELECT vec_a, vec_b, cos_sim FROM (
       |  SELECT vec_a, vec_b,
       |    ${cosSql("a.embedding", "b.embedding", "a.nrm", "b.nrm")} AS cos_sim
       |  FROM cand JOIN e a ON vec_a = a.vec_id JOIN e b ON vec_b = b.vec_id)
       |WHERE cos_sim >= 0.35 ORDER BY vec_a, vec_b""".stripMargin

  /** Mirror of Similarity.ivfTopK: deterministic coarse quantizer
    * (centroids = first 16 vectors), nprobe=2, exact rank inside lists.
    */
  private lazy val ivfOracle: String = {
    def cos(a: String, na: String, b: String, nb: String) =
      cosSql(a, b, na, nb)
    s"""WITH e AS (SELECT vec_id, embedding, ${nrmSql("embedding")} AS nrm
       |           FROM embeddings),
       |cents AS (SELECT vec_id AS cent_id, embedding AS cv, nrm AS cnrm
       |          FROM e WHERE vec_id < 16),
       |assigned AS (
       |  SELECT vec_id, embedding, nrm, cent_id AS list_id FROM (
       |    SELECT e.vec_id, e.embedding, e.nrm, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cos("e.embedding", "e.nrm", "c.cv", "c.cnrm")} DESC,
       |                 c.cent_id) AS crank
       |    FROM e, cents c) WHERE crank = 1),
       |probes AS (
       |  SELECT query_id, qv, qnrm, cent_id AS list_id FROM (
       |    SELECT q.vec_id AS query_id, q.embedding AS qv, q.nrm AS qnrm,
       |      c.cent_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cos("q.embedding", "q.nrm", "c.cv", "c.cnrm")} DESC,
       |                 c.cent_id) AS crank
       |    FROM e q, cents c WHERE q.vec_id < 5) WHERE crank <= 2)
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cos_sim
       |FROM (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    ${cos("p.qv", "p.qnrm", "a.embedding", "a.nrm")} AS cos_sim,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY ${cos("p.qv", "p.qnrm", "a.embedding", "a.nrm")} DESC,
       |               a.vec_id) AS rank
       |  FROM assigned a JOIN probes p
       |    ON a.list_id = p.list_id AND a.vec_id <> p.query_id)
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin
  }

  /** Mirror of Similarity.annRecall: the three top-k pipelines (exact,
    * LSH, IVF — same constructions as the ann_* oracles, k=3 throughout)
    * as CTEs over one shared normed corpus, then hit counts vs the exact
    * set per method.
    */
  private lazy val annRecallOracle: String = {
    def cos(a: String, na: String, b: String, nb: String) =
      cosSql(a, b, na, nb)
    s"""WITH e AS (SELECT vec_id, embedding, ${nrmSql("embedding")} AS nrm
       |           FROM embeddings),
       |bf AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cos("q.embedding", "q.nrm", "n.embedding", "n.nrm")} DESC,
       |                 n.vec_id) AS rank
       |    FROM e q JOIN e n ON n.vec_id <> q.vec_id
       |    WHERE q.vec_id < 5) WHERE rank <= 3),
       |bk AS (SELECT vec_id, embedding, nrm,
       |  ${bucketSql("embedding", 4)} AS bucket FROM e),
       |lsh AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cos("q.embedding", "q.nrm", "n.embedding", "n.nrm")} DESC,
       |                 n.vec_id) AS rank
       |    FROM bk q JOIN bk n
       |      ON n.bucket = q.bucket AND n.vec_id <> q.vec_id
       |    WHERE q.vec_id < 5) WHERE rank <= 3),
       |bk6 AS (SELECT vec_id, embedding, nrm,
       |  ${bucketSql("embedding", 6)} AS bucket FROM e),
       |pr AS (SELECT vec_id AS query_id, embedding AS qv, nrm AS qnrm,
       |  unnest([bucket] ||
       |         [xor(bucket, 1::BIGINT << p) for p in generate_series(0, 5)])
       |    AS probe
       |  FROM bk6 WHERE vec_id < 5),
       |mp AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.query_id, n.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cos("q.qv", "q.qnrm", "n.embedding", "n.nrm")} DESC,
       |                 n.vec_id) AS rank
       |    FROM pr q JOIN bk6 n
       |      ON n.bucket = q.probe AND n.vec_id <> q.query_id)
       |  WHERE rank <= 3),
       |cents AS (SELECT vec_id AS cent_id, embedding AS cv, nrm AS cnrm
       |          FROM e WHERE vec_id < 16),
       |assigned AS (
       |  SELECT vec_id, embedding, nrm, cent_id AS list_id FROM (
       |    SELECT e.vec_id, e.embedding, e.nrm, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cos("e.embedding", "e.nrm", "c.cv", "c.cnrm")} DESC,
       |                 c.cent_id) AS crank
       |    FROM e, cents c) WHERE crank = 1),
       |probes AS (
       |  SELECT query_id, qv, qnrm, cent_id AS list_id FROM (
       |    SELECT q.vec_id AS query_id, q.embedding AS qv, q.nrm AS qnrm,
       |      c.cent_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cos("q.embedding", "q.nrm", "c.cv", "c.cnrm")} DESC,
       |                 c.cent_id) AS crank
       |    FROM e q, cents c WHERE q.vec_id < 5) WHERE crank <= 2),
       |ivf AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT p.query_id, a.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY p.query_id
       |        ORDER BY ${cos("p.qv", "p.qnrm", "a.embedding", "a.nrm")} DESC,
       |                 a.vec_id) AS rank
       |    FROM assigned a JOIN probes p
       |      ON a.list_id = p.list_id AND a.vec_id <> p.query_id)
       |  WHERE rank <= 3),
       |${pqCtes(5, 8, 4)},
       |pq AS (SELECT query_id, neighbor_id FROM (
       |        SELECT query_id, neighbor_id, row_number() OVER (
       |          PARTITION BY query_id ORDER BY d2, neighbor_id) AS rank
       |        FROM adc) WHERE rank <= 3),
       |n_ex AS (SELECT count(*) AS n_exact FROM bf),
       |hits AS (
       |  SELECT 'ivf' AS method, count(*) AS n_hit
       |  FROM ivf JOIN bf USING (query_id, neighbor_id)
       |  UNION ALL
       |  SELECT 'lsh' AS method, count(*) AS n_hit
       |  FROM lsh JOIN bf USING (query_id, neighbor_id)
       |  UNION ALL
       |  SELECT 'multiprobe' AS method, count(*) AS n_hit
       |  FROM mp JOIN bf USING (query_id, neighbor_id)
       |  UNION ALL
       |  SELECT 'pq' AS method, count(*) AS n_hit
       |  FROM pq JOIN bf USING (query_id, neighbor_id))
       |SELECT method, n_hit, n_exact,
       |  round(CAST(n_hit AS DOUBLE) / n_exact, 6) AS recall
       |FROM hits, n_ex ORDER BY method""".stripMargin
  }

  /** The langid predicted-label subquery (doc_id, lang, predicted) —
    * shared by text_langid, eval_confusion_matrix, eval_cohen_kappa.
    */
  private lazy val langPredSql: String = {
    def hits(words: Seq[String]) =
      s"len(list_filter(t, x -> x IN (${words.map(w => s"'$w'").mkString(", ")})))"
    s"""SELECT doc_id, lang,
       |    CASE WHEN s_en >= greatest(s_de, s_es, s_fr, s_zh) THEN 'en'
       |         WHEN s_de >= greatest(s_es, s_fr, s_zh) THEN 'de'
       |         WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
       |         WHEN s_fr >= s_zh THEN 'fr'
       |         ELSE 'zh' END AS predicted
       |  FROM (
       |    SELECT doc_id, lang,
       |      ${hits(TextOps.StopEn)} AS s_en,
       |      ${hits(TextOps.StopDe)} AS s_de,
       |      ${hits(TextOps.StopEs)} AS s_es,
       |      ${hits(TextOps.StopFr)} AS s_fr,
       |      len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS s_zh
       |    FROM ($toksCte))""".stripMargin
  }

  private lazy val langIdOracle: String =
    s"""SELECT doc_id, predicted, lang, predicted = lang AS is_match FROM (
       |$langPredSql)
       |ORDER BY doc_id""".stripMargin
}
