package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.QueryDef.Sql
import graft.core.Tables
import graft.ops.{Sampling, Similarity, TextAnalysis}

/** Corpus-curation operators (round 2): deterministic sampling/splitting,
  * token chunking, embedding quantization — the assembly steps between
  * dedup/quality-filtering and tokenizer/trainer handoff.
  */
object CurationQueries {

  /** Mirror of Sampling.hashBucket: salted 63-bit hash mod 10000. */
  private def bucketSql(salt: String, id: String): String =
    s"${Sql.hash64(s"'$salt|' || CAST($id AS VARCHAR)")} % 10000"

  /** Unrolled-GD oracle for ops/Classifier.trainAndScore: the feature CTE
    * mirrors Classifier.features term-for-term, then one (margin, fast
    * sigmoid, gradient, weight-update) CTE generation per iteration.
    * Every division is integer-truncating on integral types — DuckDB `//`
    * on DECIMAL is NOT integral division (it returns fractions), so every
    * decimal gradient sum is CAST to HUGEINT before `//`.
    */
  private def classifierOracle(iters: Int, lrPpm: Long): String = {
    val S = 1000000L
    val stopList =
      graft.ops.TextOps.StopEn.map(w => s"'$w'").mkString(", ")
    val margin = s"(w0 * $S + w1*x1 + w2*x2 + w3*x3 + w4*x4) // $S"
    val sig = s"${S / 2} + (m * ${S / 2}) // ($S + abs(m))"
    val feats =
      s"""raw AS MATERIALIZED (
         |  SELECT doc_id,
         |    (stop_hits * $S) // n_tokens AS r1,
         |    (n_alpha * $S) // n_chars_ AS r2,
         |    (least(sum_tok_len // n_tokens, 10) * $S) // 10 AS r3,
         |    (least(n_chars_, 2000) * $S) // 2000 AS r4,
         |    CASE WHEN 5 * ((stop_hits * $S) // n_tokens) +
         |              (n_alpha * $S) // n_chars_ >= ${graft.ops.Classifier.BlendThrPpm}
         |         THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y
         |  FROM (
         |    SELECT doc_id,
         |      greatest(CAST(length(text) AS BIGINT), 1) AS n_chars_,
         |      greatest(CAST(len(t) AS BIGINT), 1) AS n_tokens,
         |      CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT)
         |        AS sum_tok_len,
         |      CAST(len(list_filter(t, x -> x IN ($stopList))) AS BIGINT)
         |        AS stop_hits,
         |      CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
         |        AS BIGINT) AS n_alpha
         |    FROM (SELECT doc_id, text,
         |            string_split_regex(lower(trim(text)), '\\s+') AS t
         |          FROM documents))),
         |rng AS (SELECT ${(1 to 4).map(j =>
               s"min(r$j) AS mn$j, max(r$j) AS mx$j").mkString(", ")}
         |        FROM raw),
         |feats AS MATERIALIZED (
         |  SELECT doc_id, y,
         |    ${(1 to 4).map(j =>
               s"((r$j - mn$j) * ${2 * S}) // (mx$j - mn$j + 1) - $S AS x$j")
              .mkString(",\n|    ")}
         |  FROM raw CROSS JOIN rng)""".stripMargin
    val w0 = (0 to 4).map(j => s"CAST(0 AS BIGINT) AS w$j").mkString(", ")
    val gens = (1 to iters).map { i =>
      val gcols = (s"sum(CAST(y * $S - p AS DECIMAL(38,0))) AS g0" +:
        (1 to 4).map(j =>
          s"sum(CAST((y * $S - p) * x$j AS DECIMAL(38,0))) AS g$j"))
        .mkString(",\n|    ")
      val wcols = (
        s"CAST(w0 + ($lrPpm * (CAST(g0 * $S AS HUGEINT) // n)) // ${S * S} AS BIGINT) AS w0" +:
        (1 to 4).map(j =>
          s"CAST(w$j + ($lrPpm * (CAST(g$j AS HUGEINT) // n)) // ${S * S} AS BIGINT) AS w$j"))
        .mkString(",\n|    ")
      s"""p$i AS (
         |  SELECT y, x1, x2, x3, x4, $sig AS p
         |  FROM (SELECT feats.*, $margin AS m FROM feats CROSS JOIN w${i - 1})),
         |g$i AS (
         |  SELECT $gcols,
         |    count(*) AS n FROM p$i),
         |w$i AS (
         |  SELECT $wcols
         |  FROM w${i - 1} CROSS JOIN g$i)""".stripMargin
    }
    s"""WITH $feats,
       |w0 AS (SELECT $w0),
       |${gens.mkString(",\n")}
       |SELECT doc_id, y, $sig AS score_ppm,
       |  ($sig) >= ${S / 2} AS pred
       |FROM (SELECT feats.*, $margin AS m FROM feats CROSS JOIN w$iters)
       |ORDER BY doc_id""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(

    QueryDef("sample_stratified",
      (s, dir) => Sampling.stratified(
        Tables.read(s, dir, "documents"), "lang", col("doc_id"),
        rates = Map("en" -> 5000, "zh" -> 10000), defaultRate = 2500)
        .select("doc_id", "lang").orderBy("doc_id"),
      Some(s"""SELECT doc_id, lang FROM documents
              |WHERE ${bucketSql("strat", "doc_id")} <
              |  CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 10000
              |            ELSE 2500 END
              |ORDER BY doc_id""".stripMargin)),

    QueryDef("sample_split",
      (s, dir) => Sampling.split(
        Tables.read(s, dir, "documents"), col("doc_id"),
        trainBp = 8000, valBp = 1000)
        .select("doc_id", "split").orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |CASE WHEN ${bucketSql("split", "doc_id")} < 8000 THEN 'train'
              |     WHEN ${bucketSql("split", "doc_id")} < 9000 THEN 'val'
              |     ELSE 'test' END AS split
              |FROM documents ORDER BY doc_id""".stripMargin)),

    // Language rebalancing: downsample every language to ≈120 docs using a
    // rate derived from the language's own size (group counts broadcast
    // back onto the scan; per-row salted-hash keep decision — run-stable).
    // Summary output proves both the rate math and the selection.
    QueryDef("curation_lang_balance",
      (s, dir) => {
        val docs = Tables.read(s, dir, "documents")
        val kept = Sampling.balanceToCap(docs, "lang", col("doc_id"),
          cap = 120)
        val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        counts.join(
            kept.groupBy("lang").agg(count(lit(1)).as("n_kept")), "lang")
          .select(col("lang"), col("n_docs"), col("n_kept"))
          .orderBy("lang")
      },
      Some(s"""WITH c AS (SELECT lang, count(*) AS n_docs
              |          FROM documents GROUP BY 1),
              |r AS (SELECT lang, n_docs,
              |  least(10000, CAST(floor(120 * 10000.0 / n_docs) AS BIGINT))
              |    AS keep_bp FROM c),
              |k AS (SELECT d.lang, count(*) AS n_kept
              |      FROM documents d JOIN r USING (lang)
              |      WHERE ${bucketSql("balance", "d.doc_id")} < r.keep_bp
              |      GROUP BY 1)
              |SELECT r.lang, r.n_docs, k.n_kept
              |FROM r JOIN k USING (lang) ORDER BY lang""".stripMargin)),

    QueryDef("text_chunk",
      (s, dir) => TextAnalysis.chunk(Tables.read(s, dir, "documents"),
        size = 32, stride = 24),
      Some("""WITH toks AS (SELECT doc_id,
             |  string_split_regex(lower(trim(text)), '\s+') AS t FROM documents),
             |st AS (SELECT doc_id, t,
             |  unnest(generate_series(1, greatest(len(t), 1), 24)) AS s FROM toks)
             |SELECT doc_id, CAST((s - 1) // 24 AS BIGINT) AS chunk_idx,
             |array_to_string(t[s : s + 31], ' ') AS chunk_text,
             |CAST(len(t[s : s + 31]) AS BIGINT) AS n_chunk_tokens
             |FROM st ORDER BY doc_id, chunk_idx""".stripMargin)),

    // The composed curation funnel: length -> token-count -> exact-dedup
    // stages in ONE pass (each doc labeled by its first failing stage),
    // then a tiny aggregate — the per-stage drop accounting every real
    // curation pipeline reports. One scan + one window shuffle (dedup
    // keeper) + one agg; no per-stage rescans.
    QueryDef("curation_funnel",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("text"))).orderBy("doc_id")
        Tables.read(s, dir, "documents")
          .withColumn("n_chars", length(col("text")))
          .withColumn("n_toks", size(split(trim(col("text")), "\\s+")))
          .withColumn("keeper", row_number().over(w) === 1)
          .withColumn("stage",
            when(col("n_chars") < 400, "1_too_short")
              .when(col("n_toks") < 80, "2_too_few_tokens")
              .when(!col("keeper"), "3_exact_dup")
              .otherwise("4_pass"))
          .groupBy("stage")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("stage")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, length(text) AS n_chars,
             |    len(string_split_regex(trim(text), '\s+')) AS n_toks,
             |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
             |      AS keeper
             |  FROM documents)
             |SELECT CASE WHEN n_chars < 400 THEN '1_too_short'
             |            WHEN n_toks < 80 THEN '2_too_few_tokens'
             |            WHEN NOT keeper THEN '3_exact_dup'
             |            ELSE '4_pass' END AS stage,
             |count(*) AS n_docs
             |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Vocabulary building: token -> (term frequency, document frequency),
    // top 100 by tf. Explode is map-side; the counts partial-aggregate
    // before the one shuffle on token; top-k is TakeOrderedAndProject.
    // count(DISTINCT doc_id) per token demonstrates the two-level
    // distinct-agg expansion at scale.
    QueryDef("text_vocab",
      (s, dir) => {
        val toks = graft.ops.TextOps.withTokens(
          Tables.read(s, dir, "documents"))
          .select(col("doc_id"), explode(col("t")).as("token"))
          .filter(length(col("token")) >= 2)
        toks.groupBy("token")
          .agg(count(lit(1)).as("tf"),
            countDistinct(col("doc_id")).as("df"))
          .orderBy(desc("tf"), col("token"))
          .limit(100)
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
             |  FROM documents)
             |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
             |FROM toks WHERE length(token) >= 2
             |GROUP BY token ORDER BY tf DESC, token LIMIT 100""".stripMargin)),

    // N-gram novelty of an incoming batch vs the standing corpus: what
    // fraction of the new batch's distinct bigram shingles were never
    // seen before (the staleness/freshness meter that decides whether
    // another crawl of a source is worth the compute). One pass: the
    // shingles group by type (map-side-combinable; shuffle ∝ types, not
    // tokens) with a presence flag per half, and the three counts are
    // conditional counts over the types, so an empty corpus is 0/0/0
    // with a null rate. Batch = odd doc_ids, corpus = even —
    // deterministic at every SF.
    QueryDef("curation_novelty",
      (s, dir) => {
        val types = graft.ops.TextOps.withTokens(
          Tables.read(s, dir, "documents"))
          .select(pmod(col("doc_id"), lit(2)).as("half"),
            explode(graft.ops.TextOps.bigramShingles(col("t"))).as("sh"))
          .groupBy("sh")
          .agg(max(col("half") === 0).as("in_old"),
            max(col("half") === 1).as("in_new"))
        types.agg(count(when(col("in_old"), true)).as("n_old_types"),
            count(when(col("in_new"), true)).as("n_new_types"),
            count(when(col("in_old") && col("in_new"), true)).as("n_seen"))
          .select(col("n_old_types"), col("n_new_types"), col("n_seen"),
            round((col("n_new_types") - col("n_seen")).cast("double") /
              col("n_new_types"), 6).as("novelty_rate"))
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
              |  FROM documents),
              |sh AS (SELECT DISTINCT doc_id % 2 AS half, sh
              |  FROM (SELECT doc_id,
              |      unnest(CASE WHEN len(t) >= 2
              |        THEN [t[i] || ' ' || t[i+1]
              |              for i in generate_series(1, len(t)-1)]
              |        ELSE []::VARCHAR[] END) AS sh
              |    FROM toks)),
              |o AS (SELECT sh FROM sh WHERE half = 0),
              |n AS (SELECT sh FROM sh WHERE half = 1),
              |c AS (SELECT
              |  (SELECT count(*) FROM o) AS n_old_types,
              |  (SELECT count(*) FROM n) AS n_new_types,
              |  (SELECT count(*) FROM n WHERE sh IN (SELECT sh FROM o))
              |    AS n_seen)
              |SELECT n_old_types, n_new_types, n_seen,
              |  round(CAST(n_new_types - n_seen AS DOUBLE) / n_new_types, 6)
              |    AS novelty_rate
              |FROM c""".stripMargin)),

    // Balanced shard assignment: size-sorted round-robin (the classic
    // "sort descending, deal like cards" heuristic — within 1 max-item
    // of perfect token balance) into 8 training shards, so no shard
    // drags a data-parallel epoch. The global size rank is the native
    // GlobalRank row_number (one range exchange + a shuffle-read summary
    // pass) — no single-partition window at any corpus size; the oracle
    // computes the same rank with a plain window, proving the native
    // rank exact. Output: the 8-row shard census.
    QueryDef("curation_shard_balance",
      (s, dir) => {
        val docs = Tables.read(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"))
        graft.plans.GlobalRank.withRowNumber(docs, "rnk",
            ("n_chars", false), ("doc_id", true))
          .groupBy(pmod(col("rnk") - 1, lit(8)).as("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_chars"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"))
          .orderBy("shard")
      },
      Some("""WITH r AS (SELECT doc_id, n_chars,
             |    CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id)
             |      AS BIGINT) AS rnk
             |  FROM documents)
             |SELECT (rnk - 1) % 8 AS shard, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
             |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
             |FROM r GROUP BY 1 ORDER BY shard""".stripMargin)),

    // Multi-phrase blocklist census via ONE Aho-Corasick pass per doc
    // (ops/Blocklist.scala: goto+failure automaton, ≤64 phrases ride a
    // long bitmask) — the safety/boilerplate screen every curation
    // pipeline runs. K `contains` scans cost O(K·n) per doc; the
    // automaton costs O(n) regardless of K, inside whole-stage codegen
    // (the phrase list folds at plan time and ships as one reference
    // object). Census: per phrase, docs hit + the multi-hit histogram —
    // 12 shift/mask aggregates off the one mask column, a single
    // map-side pass (the pii_scrub shape). The oracle pays the K-scan
    // price with plain contains(), proving the automaton ≡ K substring
    // searches.
    QueryDef("text_blocklist",
      (s, dir) => {
        val phrases = Seq("fast table", "table table", "scan query",
          "slow filter", "key agg", "window data", "batch batch",
          "merge batch", "order data", "spark a", "big vector",
          "value sort")
        graft.ops.Blocklist.census(Tables.read(s, dir, "documents"),
            phrases)
          .orderBy("phrase")
      },
      Some("""WITH p AS (SELECT unnest(['fast table', 'table table',
             |    'scan query', 'slow filter', 'key agg', 'window data',
             |    'batch batch', 'merge batch', 'order data', 'spark a',
             |    'big vector', 'value sort']) AS phrase),
             |n AS (SELECT count(*) AS n_docs FROM documents)
             |SELECT p.phrase,
             |  CAST(sum(CASE WHEN contains(d.text, p.phrase)
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_hit,
             |  n.n_docs
             |FROM p CROSS JOIN documents d CROSS JOIN n
             |GROUP BY p.phrase, n.n_docs ORDER BY phrase""".stripMargin)),

    // Heaps-law vocabulary growth: how fast the type count grows as the
    // corpus streams in (V ≈ k·N^β) — the curve that sizes a tokenizer
    // vocab and predicts marginal novelty of the next data batch. The
    // corpus is cut into 16 doc_id-range buckets (the ingest order);
    // each token contributes its FIRST-SEEN bucket (one min aggregate,
    // shuffle ∝ token types); per-bucket token mass is a second
    // combinable aggregate. The cumulative walk and the closed-form
    // log-log least-squares slope run over the 16-row bucket table —
    // metadata scale — with the exact-moments identical-double-formula
    // discipline from agg_corr_matrix, so β is engine-exact at 6 dp.
    QueryDef("text_heaps_law",
      (s, dir) => {
        val toks = graft.ops.TextOps.withTokens(
          Tables.read(s, dir, "documents"))
          .select(col("doc_id"), explode(col("t")).as("token"))
          .filter(length(col("token")) >= 1)
        val mx = Tables.read(s, dir, "documents")
          .agg((max(col("doc_id")) + 1).as("m"))
        val bucketed = toks.crossJoin(broadcast(mx))
          .select(expr("doc_id * 16 div m").as("bucket"), col("token"))
        val firstSeen = bucketed.groupBy("token")
          .agg(min(col("bucket")).as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("new_types"))
        val mass = bucketed.groupBy("bucket")
          .agg(count(lit(1)).as("n_tokens"))
        val w = Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, 0)
        val cum = mass.join(firstSeen, Seq("bucket"), "left")
          .na.fill(0L, Seq("new_types"))
          .select(col("bucket"),
            sum(col("n_tokens")).over(w).as("cum_tokens"),
            sum(col("new_types")).over(w).as("cum_vocab"))
          .localCheckpoint()
        // exact-moments fit: the log points are rounded to 9 dp and
        // carried as DECIMAL so every moment sum is order-independent;
        // only the final slope formula runs in double, sequenced
        // identically in the oracle (the agg_corr_matrix discipline)
        def d(c: org.apache.spark.sql.Column) = c.cast("double")
        val fit = cum.select(
            round(log(d(col("cum_tokens"))), 9).cast("decimal(15,9)").as("x"),
            round(log(d(col("cum_vocab"))), 9).cast("decimal(15,9)").as("y"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .select(round((d(col("n")) * d(col("sxy")) -
            d(col("sx")) * d(col("sy"))) /
            (d(col("n")) * d(col("sxx")) - d(col("sx")) * d(col("sx"))), 6)
            .as("heaps_beta"))
        cum.crossJoin(broadcast(fit)).orderBy("bucket")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
             |  FROM documents),
             |m AS (SELECT max(doc_id) + 1 AS m FROM documents),
             |b AS (SELECT doc_id * 16 // m.m AS bucket, token
             |  FROM toks CROSS JOIN m WHERE length(token) >= 1),
             |fs AS (SELECT min(bucket) AS bucket FROM b GROUP BY token),
             |nt AS (SELECT bucket, count(*) AS new_types FROM fs GROUP BY 1),
             |ms AS (SELECT bucket, count(*) AS n_tokens FROM b GROUP BY 1),
             |cum AS (SELECT ms.bucket,
             |    CAST(sum(ms.n_tokens) OVER (ORDER BY ms.bucket
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
             |    CAST(sum(coalesce(nt.new_types, 0)) OVER (ORDER BY ms.bucket
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
             |  FROM ms LEFT JOIN nt ON nt.bucket = ms.bucket),
             |pts AS (SELECT
             |    CAST(round(ln(CAST(cum_tokens AS DOUBLE)), 9)
             |      AS DECIMAL(15,9)) AS x,
             |    CAST(round(ln(CAST(cum_vocab AS DOUBLE)), 9)
             |      AS DECIMAL(15,9)) AS y FROM cum),
             |f AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             |             sum(x * y) AS sxy, sum(x * x) AS sxx FROM pts),
             |fit AS (SELECT round(
             |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             |    AS heaps_beta
             |  FROM f)
             |SELECT bucket, cum_tokens, cum_vocab, heaps_beta
             |FROM cum CROSS JOIN fit ORDER BY bucket""".stripMargin)),

    // Temperature-rebalanced source mix (the multilingual-training trick,
    // α = 0.5): per-source keep rates ∝ sqrt(share), so over-represented
    // sources are down-sampled and the tail keeps (relatively) more —
    // here sized to keep ~half the corpus. DATA-DERIVED rates, unlike
    // sample_stratified's static map: counts → sqrt weights → integer
    // basis-point thresholds, then one salted-hash filter. All threshold
    // arithmetic is integer (sqrt quantized to 1e-3 first — IEEE sqrt is
    // correctly rounded in both engines, and the integer sum is
    // order-independent where a double Σsqrt would drift with addition
    // order). int64 bounds hold to ~1e12 docs/source; past that the
    // threshold math moves to DECIMAL(38). The rates frame is tiny →
    // broadcast onto the corpus scan; one shuffle total (the final
    // per-source rollup).
    QueryDef("curation_temperature_sample",
      (s, dir) => {
        val docs = Tables.read(s, dir, "documents")
        val rates = Sampling.temperatureThresholds(docs, "source")
        docs.join(broadcast(rates), "source")
          .withColumn("keep",
            Sampling.hashBucket(col("doc_id"), "temp") < col("thr"))
          .groupBy("source")
          .agg(first(col("n")).as("n_docs"),
            first(col("thr")).as("threshold_bp"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
          .orderBy("source")
      },
      Some(s"""WITH counts AS (
              |  SELECT source, count(*) AS n FROM documents GROUP BY 1),
              |w AS (SELECT source, n,
              |  CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000) AS BIGINT) AS w
              |  FROM counts),
              |tot AS (SELECT CAST(sum(n) AS BIGINT) AS ntot,
              |              CAST(sum(w) AS BIGINT) AS sumw FROM w),
              |rates AS (SELECT source, n,
              |  least(CAST(10000 AS BIGINT),
              |        CAST(((CAST(ntot AS HUGEINT) // 2) * w * 10000)
              |             // (CAST(sumw AS HUGEINT) * n) AS BIGINT)) AS thr
              |  FROM w CROSS JOIN tot)
              |SELECT d.source, r.n AS n_docs, r.thr AS threshold_bp,
              |  CAST(sum(CASE WHEN ${bucketSql("temp", "d.doc_id")} < r.thr
              |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
              |FROM documents d JOIN rates r USING (source)
              |GROUP BY 1, 2, 3 ORDER BY source""".stripMargin)),

    // Weight-proportional sampling (keep prob = n_chars / max n_chars):
    // the "prefer longer documents" importance-sample, deterministic via
    // the salted hash and integer basis-point thresholds. One tiny max
    // agg broadcast onto the scan; rollup per lang proves the selection.
    QueryDef("sample_weighted",
      (s, dir) => {
        val docs = Tables.read(s, dir, "documents")
          .withColumn("n_chars", length(col("text")).cast("long"))
        Sampling.weighted(docs, "n_chars", col("doc_id"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_kept"), sum("n_chars").as("chars_kept"))
          .orderBy("lang")
      },
      Some(s"""WITH d AS (SELECT doc_id, lang,
              |    CAST(length(text) AS BIGINT) AS w FROM documents),
              |m AS (SELECT CAST(CAST(max(w) AS DOUBLE) * 1000000 AS BIGINT)
              |             AS wmax FROM d)
              |SELECT lang, count(*) AS n_kept,
              |  CAST(sum(w) AS BIGINT) AS chars_kept
              |FROM d CROSS JOIN m
              |WHERE wmax >= 1 AND ${bucketSql("weighted", "doc_id")}
              |  < (CAST(CAST(w AS DOUBLE) * 1000000 AS BIGINT) * 10000) // wmax
              |GROUP BY 1 ORDER BY lang""".stripMargin)),

    // Inverted-index build (the search/retrieval primitive): per-term
    // document-frequency + the first 15 postings, for the 20 highest-df
    // terms. The (doc, term) pairs explode map-side and distinct/agg on
    // the term key; the collect_set buffer is bounded by |docs| per term
    // — a production index SHARDS hot terms' posting lists, but df and
    // list-prefix semantics are identical. The posting prefix is emitted
    // as a comma-joined STRING (not an array) so the comparison harness
    // can sort/hash it; OracleLintSpec enforces scalar-only outputs.
    QueryDef("text_postings",
      (s, dir) => {
        val pairs = graft.ops.TextOps.withTokens(
          Tables.read(s, dir, "documents"))
          .select(col("doc_id"), explode(col("t")).as("token"))
          .filter(length(col("token")) >= 2)
        pairs.groupBy("token")
          .agg(sort_array(collect_set(col("doc_id"))).as("all_ids"))
          .select(col("token"), size(col("all_ids")).cast("long").as("df"),
            array_join(slice(col("all_ids"), 1, 15), ",").as("postings"))
          .orderBy(desc("df"), col("token"))
          .limit(20)
      },
      Some("""WITH raw AS (
             |  SELECT doc_id,
             |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
             |  FROM documents),
             |toks AS (SELECT DISTINCT doc_id, token FROM raw
             |         WHERE length(token) >= 2)
             |SELECT token, count(*) AS df,
             |  array_to_string((list(doc_id ORDER BY doc_id))[1:15], ',') AS postings
             |FROM toks
             |GROUP BY token ORDER BY df DESC, token LIMIT 20""".stripMargin)),

    // Sequence packing (training-context assembly): documents are packed
    // in id order into 256-token budget bins, sharded doc_id % 8 so the
    // cumulative-sum window runs per shard — the formulation that scales
    // (real pipelines pack within shards; a single global packing order
    // would serialize the window). A doc that straddles a boundary
    // belongs to the bin where it starts, so bins can overflow the budget
    // (fill > 100%) but never split a document. All integer arithmetic.
    QueryDef("curation_pack_sequences",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("doc_id")
        Tables.read(s, dir, "documents")
          .select(col("doc_id"), pmod(col("doc_id"), lit(8)).as("shard"),
            size(split(lower(trim(col("text"))), "\\s+")).cast("long")
              .as("n_tokens"))
          .withColumn("cum", sum("n_tokens").over(w))
          .withColumn("seq_id", expr("(cum - n_tokens) div 256"))
          .groupBy("shard", "seq_id")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
          .orderBy("shard", "seq_id")
      },
      Some("""WITH d AS (SELECT doc_id, doc_id % 8 AS shard,
             |  CAST(len(string_split_regex(lower(trim(text)), '\s+'))
             |       AS BIGINT) AS n
             |  FROM documents),
             |c AS (SELECT shard, doc_id, n,
             |  sum(n) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
             |  FROM d)
             |SELECT shard, CAST((cum - n) // 256 AS BIGINT) AS seq_id,
             |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS sum_tokens
             |FROM c GROUP BY 1, 2 ORDER BY shard, seq_id""".stripMargin)),

    // Dataset-card manifest: the per-(split, lang) doc/token/byte census
    // a training run ships with its dataset — deterministic splits from
    // the salted hash, token/byte counts map-side, one rollup shuffle.
    QueryDef("curation_manifest",
      (s, dir) => {
        val docs = Tables.read(s, dir, "documents")
        Sampling.split(docs, col("doc_id"), trainBp = 8000, valBp = 1000)
          .select(col("split"), col("lang"),
            size(org.apache.spark.sql.functions
              .split(lower(trim(col("text"))), "\\s+")).cast("long")
              .as("toks"),
            octet_length(col("text")).cast("long").as("bytes"))
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"),
            sum("bytes").as("n_bytes"))
          .orderBy("split", "lang")
      },
      Some(s"""SELECT CASE
              |    WHEN ${bucketSql("split", "doc_id")} < 8000 THEN 'train'
              |    WHEN ${bucketSql("split", "doc_id")} < 9000 THEN 'val'
              |    ELSE 'test' END AS split,
              |  lang, count(*) AS n_docs,
              |  CAST(sum(len(string_split_regex(lower(trim(text)), '\\s+')))
              |       AS BIGINT) AS n_tokens,
              |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS n_bytes
              |FROM documents GROUP BY 1, 2 ORDER BY split, lang""".stripMargin)),

    // Contrastive negative sampling: 3 deterministic pseudo-random
    // negatives per document from the salted hash (re-run-identical, no
    // RNG state — the property a resumable training-pair job needs).
    // Candidates semi-join the corpus so non-existent ids and
    // self-pairs drop identically in both engines regardless of id
    // density. Map-side explode + one broadcast-able semi-join.
    QueryDef("sample_negatives",
      (s, dir) => {
        val docs = Tables.read(s, dir, "documents")
        val n = docs.agg(count(lit(1)).as("ntot"))
        val cand = docs.select(col("doc_id"))
          .crossJoin(broadcast(n))
          .select(col("doc_id"), explode(array(lit(0), lit(1), lit(2)))
            .as("i"), col("ntot"))
          .withColumn("neg_id", graft.core.GraftFunctions.hash64(
            concat_ws("|", lit("neg"), col("doc_id"), col("i"))) % col("ntot"))
          .filter(col("neg_id") =!= col("doc_id"))
        cand.join(docs.select(col("doc_id").as("neg_id")), Seq("neg_id"),
            "left_semi")
          .select(col("doc_id"), col("i").cast("long").as("i"), col("neg_id"))
          .orderBy("doc_id", "i")
      },
      Some(s"""WITH n AS (SELECT count(*) AS ntot FROM documents),
              |cand AS (
              |  SELECT doc_id, i,
              |    ${Sql.hash64("'neg|' || CAST(doc_id AS VARCHAR) || '|' " +
                   "|| CAST(i AS VARCHAR)")} % ntot AS neg_id
              |  FROM documents CROSS JOIN n
              |  CROSS JOIN (SELECT unnest([0, 1, 2]) AS i)
              |  )
              |SELECT doc_id, CAST(i AS BIGINT) AS i, neg_id
              |FROM cand
              |WHERE neg_id <> doc_id
              |  AND neg_id IN (SELECT doc_id FROM documents)
              |ORDER BY doc_id, i""".stripMargin)),

    // Jensen-Shannon divergence between the two largest sources' unigram
    // distributions — the "how different are these corpora" curation
    // metric (bounded, symmetric, defined on disjoint supports unlike
    // KL). Token-count aggs (map-side) → full-outer-joined
    // distributions with add-one smoothing over the joint vocabulary →
    // per-term JS contributions rounded to 6 then DECIMAL-summed (the
    // profile_drift ln discipline). Vocabulary-bounded shuffles only.
    QueryDef("curation_js_divergence",
      (s, dir) => {
        val toks = graft.ops.TextOps.withTokens(
          Tables.read(s, dir, "documents"))
          .select(col("source"), explode(col("t")).as("token"))
          .filter(length(col("token")) >= 2)
        val top2 = toks.groupBy("source").agg(count(lit(1)).as("nt"))
          .orderBy(desc("nt"), col("source")).limit(2)
          .select(col("source"),
            row_number().over(org.apache.spark.sql.expressions.Window
              .orderBy(desc("nt"), col("source"))).as("side"))
        val counts = toks.join(broadcast(top2), "source")
          .groupBy("token")
          .agg(sum(when(col("side") === 1, 1L).otherwise(0L)).as("na"),
            sum(when(col("side") === 2, 1L).otherwise(0L)).as("nb"))
        val tot = counts.agg(sum("na").as("ta"), sum("nb").as("tb"),
          count(lit(1)).as("vocab"))
        def d(c: org.apache.spark.sql.Column) = c.cast("double")
        val terms = counts.crossJoin(broadcast(tot))
          .withColumn("p", (d(col("na")) + 1) / (d(col("ta")) + d(col("vocab"))))
          .withColumn("q", (d(col("nb")) + 1) / (d(col("tb")) + d(col("vocab"))))
          .withColumn("m2", col("p") + col("q"))
          .withColumn("term", round(
            (col("p") * log(lit(2.0) * col("p") / col("m2"))
              + col("q") * log(lit(2.0) * col("q") / col("m2"))) / 2.0, 6))
        terms.agg(max(col("vocab")).as("vocab"),
          sum(col("term").cast("decimal(18,6)")).cast("double")
            .as("js_divergence"))
      },
      Some("""WITH toks AS (
             |  SELECT source,
             |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
             |  FROM documents),
             |ft AS (SELECT source, token FROM toks WHERE length(token) >= 2),
             |top2 AS (SELECT source, row_number() OVER (
             |      ORDER BY count(*) DESC, source) AS side
             |  FROM ft GROUP BY source
             |  ORDER BY count(*) DESC, source LIMIT 2),
             |c AS (SELECT token,
             |    CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS na,
             |    CAST(sum(CASE WHEN side = 2 THEN 1 ELSE 0 END) AS BIGINT) AS nb
             |  FROM ft JOIN top2 USING (source) GROUP BY 1),
             |t AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
             |    CAST(sum(nb) AS BIGINT) AS tb, count(*) AS vocab FROM c),
             |terms AS (SELECT vocab,
             |    round(((CAST(na + 1 AS DOUBLE) / (ta + vocab))
             |        * ln(2.0 * (CAST(na + 1 AS DOUBLE) / (ta + vocab))
             |             / ((CAST(na + 1 AS DOUBLE) / (ta + vocab))
             |                + (CAST(nb + 1 AS DOUBLE) / (tb + vocab))))
             |      + (CAST(nb + 1 AS DOUBLE) / (tb + vocab))
             |        * ln(2.0 * (CAST(nb + 1 AS DOUBLE) / (tb + vocab))
             |             / ((CAST(na + 1 AS DOUBLE) / (ta + vocab))
             |                + (CAST(nb + 1 AS DOUBLE) / (tb + vocab)))))
             |      / 2.0, 6) AS term
             |  FROM c CROSS JOIN t)
             |SELECT max(vocab) AS vocab,
             |  CAST(sum(CAST(term AS DECIMAL(18,6))) AS DOUBLE)
             |    AS js_divergence
             |FROM terms""".stripMargin)),

    // Gopher-style quality rule-pack: the per-document-local filter rules
    // a pretraining pipeline applies in its first pass (length bounds,
    // mean word length, alphabetic ratio, digit ratio, stopword floor),
    // each evaluated map-side in ONE scan, plus the overall keep verdict.
    // Output = per-rule failure counts + the kept total, the "rule
    // ablation" report curation teams actually read.
    QueryDef("curation_rulepack",
      (s, dir) => {
        val d = graft.ops.TextOps.withTokens(
          Tables.read(s, dir, "documents"))
          .withColumn("n_tok", size(col("t")).cast("long"))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .withColumn("mean_wlen_m",
            expr("(aggregate(t, 0L, (a, x) -> a + length(x)) * 1000)"
              + " div greatest(n_tok, 1L)"))
          .withColumn("alpha_m", expr(
            """(length(regexp_replace(lower(text), '[^a-z]', '')) * 1000)
              | div greatest(n_chars, 1L)""".stripMargin))
          .withColumn("digit_m", expr(
            """(length(regexp_replace(text, '[^0-9]', '')) * 1000)
              | div greatest(n_chars, 1L)""".stripMargin))
          .withColumn("f_len", col("n_tok") < 5 || col("n_tok") > 5000)
          .withColumn("f_wlen",
            col("mean_wlen_m") < 2000 || col("mean_wlen_m") > 12000)
          .withColumn("f_alpha", col("alpha_m") < 600)
          .withColumn("f_digit", col("digit_m") > 200)
        d.agg(count(lit(1)).as("n_docs"),
          sum(when(col("f_len"), 1L).otherwise(0L)).as("fail_len"),
          sum(when(col("f_wlen"), 1L).otherwise(0L)).as("fail_word_len"),
          sum(when(col("f_alpha"), 1L).otherwise(0L)).as("fail_alpha"),
          sum(when(col("f_digit"), 1L).otherwise(0L)).as("fail_digit"),
          sum(when(!col("f_len") && !col("f_wlen") && !col("f_alpha") &&
            !col("f_digit"), 1L).otherwise(0L)).as("n_kept"))
      },
      Some("""WITH d AS (
             |  SELECT doc_id,
             |    len(string_split_regex(lower(trim(text)), '\s+')) AS n_tok,
             |    length(text) AS n_chars,
             |    (list_sum(list_transform(
             |       string_split_regex(lower(trim(text)), '\s+'),
             |       x -> length(x))) * 1000)
             |      // greatest(len(string_split_regex(lower(trim(text)),
             |                 '\s+')), 1) AS mean_wlen_m,
             |    (length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
             |       * 1000) // greatest(length(text), 1) AS alpha_m,
             |    (length(regexp_replace(text, '[^0-9]', '', 'g')) * 1000)
             |      // greatest(length(text), 1) AS digit_m
             |  FROM documents),
             |f AS (SELECT
             |    n_tok < 5 OR n_tok > 5000 AS f_len,
             |    mean_wlen_m < 2000 OR mean_wlen_m > 12000 AS f_wlen,
             |    alpha_m < 600 AS f_alpha,
             |    digit_m > 200 AS f_digit
             |  FROM d)
             |SELECT count(*) AS n_docs,
             |  CAST(sum(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT)
             |    AS fail_len,
             |  CAST(sum(CASE WHEN f_wlen THEN 1 ELSE 0 END) AS BIGINT)
             |    AS fail_word_len,
             |  CAST(sum(CASE WHEN f_alpha THEN 1 ELSE 0 END) AS BIGINT)
             |    AS fail_alpha,
             |  CAST(sum(CASE WHEN f_digit THEN 1 ELSE 0 END) AS BIGINT)
             |    AS fail_digit,
             |  CAST(sum(CASE WHEN NOT f_len AND NOT f_wlen AND NOT f_alpha
             |      AND NOT f_digit THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
             |FROM f""".stripMargin)),

    // Power-of-two document length distribution — the "is doc length
    // power-law" diagnostic, with the bucket computed as the BINARY
    // DIGIT COUNT of the length (floor(log2)+1): pure integer/string
    // ops, no float log to drift. One map-side projection + rollup.
    QueryDef("curation_length_dist",
      (s, dir) => {
        Tables.read(s, dir, "documents")
          .select(greatest(length(col("text")).cast("long"), lit(1L))
            .as("n"))
          .withColumn("bucket_log2",
            length(conv(col("n"), 10, 2)).cast("long"))
          .groupBy("bucket_log2")
          .agg(count(lit(1)).as("n_docs"), min("n").as("min_chars"),
            max("n").as("max_chars"))
          .orderBy("bucket_log2")
      },
      Some("""WITH d AS (SELECT greatest(CAST(length(text) AS BIGINT), 1)
             |    AS n FROM documents)
             |SELECT CAST(length(bin(n)) AS BIGINT) AS bucket_log2,
             |  count(*) AS n_docs, min(n) AS min_chars, max(n) AS max_chars
             |FROM d GROUP BY 1 ORDER BY bucket_log2""".stripMargin)),

    // Duplication rate per source — "which feed is sending copies":
    // exact-hash group sizes joined back onto the corpus, dup share in
    // fixed-point ppm. The per-source readout that decides which
    // upstream to fix. Shuffles on the digest then the source key only.
    QueryDef("curation_dup_rate_by_source",
      (s, dir) => {
        val docs = Tables.read(s, dir, "documents")
          .withColumn("digest",
            md5(encode(lower(trim(col("text"))), "UTF-8")))
        val groups = docs.groupBy("digest")
          .agg(count(lit(1)).as("n_copies"))
        docs.join(groups, "digest")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_dup"))
          .withColumn("dup_ppm", expr("n_dup * 1000000 div n_docs"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT source, md5(lower(trim(text))) AS digest
             |  FROM documents),
             |g AS (SELECT digest, count(*) AS n_copies FROM d GROUP BY 1)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END)
             |       AS BIGINT) AS n_dup,
             |  CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) * 1000000
             |       // count(*) AS BIGINT) AS dup_ppm
             |FROM d JOIN g USING (digest)
             |GROUP BY 1 ORDER BY source""".stripMargin)),

    // TF-IDF keyword extraction: top-3 terms per document by
    // tf·ln(N/df). Two shuffles — DF per term (map-side combinable),
    // then the per-doc rank window — both key-bounded at 100 TB. The
    // score is quantized to 6 decimals BEFORE ranking in BOTH engines:
    // Java Math.log and libm log agree only to ~1 ulp, and ranking on
    // raw doubles would let that last bit flip a rank; after
    // quantization a flip needs two true scores within 5e-7 AND a
    // rounding boundary between them. Ties break on the term.
    QueryDef("text_tfidf",
      (s, dir) => {
        val docs = Tables.read(s, dir, "documents")
        val n = Tables.rowCount(s, dir, "documents") // memoized sizing N
        val tf = graft.ops.TextOps.withTokens(docs)
          .select(col("doc_id"), explode(col("t")).as("term"))
          .filter(length(col("term")) >= 2)
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("term")
          .agg(count(lit(1)).as("df")) // tf rows are per-doc distinct
        val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(desc("score_r6"), col("term"))
        tf.join(df, "term")
          .withColumn("score_r6",
            round(col("tf") * log(lit(n.toDouble) / col("df")), 6))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("rank").cast("long").as("rank"),
            col("term"), col("score_r6"))
          .orderBy("doc_id", "rank")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
             |  FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
             |       WHERE length(term) >= 2 GROUP BY 1, 2),
             |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM documents),
             |scored AS (SELECT doc_id, term,
             |  round(tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS score_r6
             |  FROM tf JOIN df USING (term) CROSS JOIN n)
             |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, score_r6
             |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
             |        ORDER BY score_r6 DESC, term) AS rank FROM scored)
             |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),

    QueryDef("fn_quantize_embedding",
      (s, dir) => Similarity.quantizeInt8(Tables.read(s, dir, "embeddings")),
      Some("""WITH e AS (SELECT vec_id, embedding,
             |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
             |  FROM embeddings),
             |x AS (SELECT vec_id, scale, embedding,
             |  unnest(generate_series(0, len(embedding) - 1)) AS dim_idx FROM e)
             |SELECT vec_id, CAST(dim_idx AS BIGINT) AS dim_idx,
             |CAST(CASE WHEN scale = 0 THEN 0
             |     ELSE floor(CAST(embedding[dim_idx + 1] AS DOUBLE) * 127.0 / scale + 0.5)
             |     END AS BIGINT) AS q,
             |scale
             |FROM x ORDER BY vec_id, dim_idx""".stripMargin)),

    // Benchmark decontamination: 8-token-shingle overlap between a salted-
    // hash eval sample and the rest of the corpus; sparse inverted-index
    // join (8-gram collisions ≈ only true copies), argmax match per eval
    // doc, contaminated = ≥ half the shingles shared
    QueryDef("curation_decontaminate",
      (s, dir) => TextAnalysis.decontaminate(
        Tables.read(s, dir, "documents")),
      Some(s"""WITH tk AS (
              |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
              |  FROM documents),
              |sh0 AS (SELECT DISTINCT doc_id, sh FROM (
              |  SELECT doc_id, unnest(CASE WHEN len(t) >= 8
              |    THEN [array_to_string(t[i:i+7], ' ')
              |          for i in generate_series(1, len(t) - 7)]
              |    ELSE [] END) AS sh FROM tk)),
              |hot AS (SELECT sh FROM sh0 GROUP BY sh HAVING count(*) > 64),
              |sh AS (SELECT * FROM sh0 WHERE sh NOT IN (SELECT sh FROM hot)),
              |ev AS (SELECT * FROM sh WHERE ${bucketSql("eval", "doc_id")} < 2000),
              |sz AS (SELECT doc_id, count(*) AS n_shingles FROM ev GROUP BY 1),
              |pr AS (SELECT e.doc_id, c.doc_id AS match_doc_id,
              |         count(*) AS n_shared
              |       FROM ev e JOIN sh c ON e.sh = c.sh
              |         AND e.doc_id <> c.doc_id
              |       GROUP BY 1, 2),
              |top AS (SELECT doc_id, match_doc_id, n_shared FROM (
              |        SELECT *, row_number() OVER (PARTITION BY doc_id
              |          ORDER BY n_shared DESC, match_doc_id) AS rn FROM pr)
              |        WHERE rn = 1)
              |SELECT t.doc_id, t.match_doc_id, t.n_shared, s.n_shingles,
              |  t.n_shared >= s.n_shingles * 0.5 AS contaminated
              |FROM top t JOIN sz s USING (doc_id) ORDER BY t.doc_id""".stripMargin)),

    // Cross-document duplicated-span profile: per doc, the share of its
    // distinct 8-token shingles that occur in >= 1 OTHER document — the
    // RefinedWeb/C4 "duplicated span" gate. Fixed-point ppm keeps the
    // ratio bit-stable across engines (TextAnalysis.dupSpans).
    QueryDef("text_dup_spans",
      (s, dir) => TextAnalysis.dupSpans(Tables.read(s, dir, "documents")),
      Some(s"""WITH tk AS (
              |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
              |  FROM documents),
              |sh AS (SELECT DISTINCT doc_id, sh FROM (
              |  SELECT doc_id, unnest(CASE WHEN len(t) >= 8
              |    THEN [array_to_string(t[i:i+7], ' ')
              |          for i in generate_series(1, len(t) - 7)]
              |    ELSE [] END) AS sh FROM tk)),
              |df AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh)
              |SELECT s.doc_id, count(*) AS n_spans,
              |  CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_dup_spans,
              |  CAST((sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) * 1000000)
              |    // count(*) AS BIGINT) AS dup_ppm
              |FROM sh s JOIN df USING (sh)
              |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin)),

    // Within-document repetition (the Gopher/MassiveText duplicate-n-gram
    // quality filters): duplicate bigram/trigram fractions in integer
    // ppm, all per-row array math — zero shuffle at any corpus size.
    QueryDef("text_repetition",
      (s, dir) => TextAnalysis.repetition(Tables.read(s, dir, "documents")),
      Some("""WITH tk AS (
             |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
             |  FROM documents),
             |g AS (SELECT doc_id,
             |  CASE WHEN len(t) >= 2
             |    THEN [array_to_string(t[i:i+1], ' ')
             |          for i in generate_series(1, len(t) - 1)]
             |    ELSE []::VARCHAR[] END AS g2,
             |  CASE WHEN len(t) >= 3
             |    THEN [array_to_string(t[i:i+2], ' ')
             |          for i in generate_series(1, len(t) - 2)]
             |    ELSE []::VARCHAR[] END AS g3
             |  FROM tk)
             |SELECT doc_id,
             |  CAST(len(g2) AS BIGINT) AS n2,
             |  CAST(len(g3) AS BIGINT) AS n3,
             |  CAST(CASE WHEN len(g2) > 0 THEN (len(g2) - len(list_distinct(g2)))
             |    * 1000000 // len(g2) ELSE 0 END AS BIGINT) AS rep2_ppm,
             |  CAST(CASE WHEN len(g3) > 0 THEN (len(g3) - len(list_distinct(g3)))
             |    * 1000000 // len(g3) ELSE 0 END AS BIGINT) AS rep3_ppm
             |FROM g ORDER BY doc_id""".stripMargin)),

    // End-to-end curation pipeline, one declared plan: cheap per-row gates
    // FIRST (length/token floors — map-side, prunes before any shuffle),
    // then exact dedup keep-first among survivors, then the deterministic
    // salted-hash stratified sample and train/val/test split, closed by a
    // per-(lang, split) mix summary. This is the composition story: every
    // stage is one of the declared operators, chained without collect() or
    // materialization, so Catalyst sees ONE plan — the gates reach the
    // scan, the only wide ops are the dedup window and the final agg.
    QueryDef("curation_pipeline_e2e",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(md5(col("text"))).orderBy("doc_id")
        val gated = Tables.read(s, dir, "documents")
          .withColumn("n_chars", length(col("text")).cast("long"))
          .withColumn("n_toks",
            size(split(trim(col("text")), "\\s+")).cast("long"))
          .filter(col("n_chars") >= 400 && col("n_toks") >= 80)
        val deduped = gated
          .withColumn("keeper", row_number().over(w) === 1)
          .filter(col("keeper"))
        val sampled = Sampling.stratified(deduped, "lang", col("doc_id"),
          rates = Map("en" -> 5000, "zh" -> 10000), defaultRate = 2500)
        Sampling.split(sampled, col("doc_id"), trainBp = 8000, valBp = 1000)
          .groupBy("lang", "split")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("n_tokens"),
            round(avg(col("n_chars")), 6).as("avg_chars"))
          .orderBy("lang", "split")
      },
      Some(s"""WITH gated AS (
              |  SELECT doc_id, lang, text, length(text) AS n_chars,
              |    len(string_split_regex(trim(text), '\\s+')) AS n_toks
              |  FROM documents
              |  WHERE length(text) >= 400
              |    AND len(string_split_regex(trim(text), '\\s+')) >= 80),
              |deduped AS (
              |  SELECT * FROM (
              |    SELECT *, row_number() OVER (PARTITION BY md5(text)
              |      ORDER BY doc_id) AS rn FROM gated)
              |  WHERE rn = 1),
              |sampled AS (
              |  SELECT * FROM deduped
              |  WHERE ${bucketSql("strat", "doc_id")} <
              |    CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 10000
              |              ELSE 2500 END),
              |labeled AS (
              |  SELECT *, CASE WHEN ${bucketSql("split", "doc_id")} < 8000
              |                 THEN 'train'
              |                 WHEN ${bucketSql("split", "doc_id")} < 9000
              |                 THEN 'val' ELSE 'test' END AS split
              |  FROM sampled)
              |SELECT lang, split, count(*) AS n_docs,
              |CAST(sum(n_toks) AS BIGINT) AS n_tokens,
              |round(avg(n_chars), 6) AS avg_chars
              |FROM labeled GROUP BY lang, split ORDER BY lang, split""".stripMargin)),

    // Distributed quality classifier: logistic-style regression trained
    // by 8 full-batch GD steps over min/max-normalized text features,
    // labels from the linear quality blend (bootstrap-a-model-from-a-
    // rule; ~87% train accuracy on a ~50/50 split). ALL arithmetic is
    // ppm fixed-point with an algebraic fast-sigmoid link (no exp —
    // libm ulps can't diverge the engines); gradient sums are exact
    // DECIMAL, every division truncating-integral. Per iteration: one
    // corpus pass against the broadcast 1-row weight frame + one global
    // d+1-column aggregate. See ops/Classifier.
    QueryDef("curation_quality_classifier",
      (s, dir) => graft.ops.Classifier.trainAndScore(
        Tables.read(s, dir, "documents"), iters = 8),
      Some(classifierOracle(iters = 8, lrPpm = 3000000L))),

    // Calibration / reliability curve of the trained classifier: decile
    // buckets of the score vs the observed positive rate — the standard
    // model-eval readout (a well-calibrated score's pos_rate tracks its
    // bucket). One extra pass over the scored frame; all integer
    // arithmetic, SUMs cast to BIGINT on the oracle side (HUGEINT
    // discipline).
    QueryDef("curation_classifier_calibration",
      (s, dir) => graft.ops.Classifier.trainAndScore(
          Tables.read(s, dir, "documents"), iters = 8)
        .withColumn("bucket",
          least(expr("score_ppm * 10 div 1000000"), lit(9L)))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("y")).as("n_pos"),
          expr("sum(y) * 1000000L div count(1)").as("pos_rate_ppm"),
          expr("sum(score_ppm) div count(1)").as("avg_score_ppm"))
        .orderBy("bucket"),
      Some(s"""WITH scored AS (${classifierOracle(8, 3000000L)})
              |SELECT least(score_ppm * 10 // 1000000, 9) AS bucket,
              |  count(*) AS n_docs,
              |  CAST(sum(y) AS BIGINT) AS n_pos,
              |  CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS pos_rate_ppm,
              |  CAST(sum(score_ppm) // count(*) AS BIGINT) AS avg_score_ppm
              |FROM scored GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // Privacy audit: k-anonymity + l-diversity over quasi-identifier
    // groups (nation, market segment), sensitive attribute = account
    // balance in integer-thousands buckets. Reports the re-identification
    // surface: group-size floor, rows in groups below k=5, and the
    // minimum sensitive-value diversity — the release-gate numbers a
    // training-data pipeline checks before publishing a slice. Two-level
    // aggregation (quasi-key shuffle → global), map-side partials; the
    // exact plan at any scale.
    QueryDef("curation_k_anonymity",
      (s, dir) => Tables.read(s, dir, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"),
          expr("CAST(c_acctbal * 100 AS BIGINT) div 100000").as("bal_k"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("bal_k")).as("l"))
        .agg(count(lit(1)).as("n_groups"),
          min(col("n")).as("min_group_size"),
          sum(when(col("n") < 5, col("n")).otherwise(0L)).as("rows_at_risk"),
          expr("sum(CASE WHEN n < 5 THEN n ELSE 0 END) * 1000000L div sum(n)")
            .as("risk_ppm"),
          min(col("l")).as("min_l_diversity")),
      Some("""WITH g AS (
             |  SELECT c_nationkey, c_mktsegment, count(*) AS n,
             |    count(DISTINCT CAST(c_acctbal * 100 AS BIGINT) // 100000) AS l
             |  FROM customer GROUP BY 1, 2)
             |SELECT count(*) AS n_groups,
             |  CAST(min(n) AS BIGINT) AS min_group_size,
             |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
             |    AS rows_at_risk,
             |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) * 1000000
             |    // sum(n) AS BIGINT) AS risk_ppm,
             |  CAST(min(l) AS BIGINT) AS min_l_diversity
             |FROM g""".stripMargin)),

    // Exact-k deterministic uniform sample ("give me exactly 100 docs,
    // reproducibly"): rank by a salted 63-bit content-independent hash
    // and take the k smallest. Rate-based sampling can't hit an exact
    // count; a random() sort isn't reproducible; this is both, and the
    // plan is a distributed TakeOrdered (per-partition top-k, k-row
    // merge on the driver) — never a global sort of the corpus.
    QueryDef("sample_reservoir",
      (s, dir) => Tables.read(s, dir, "documents")
        .withColumn("h", graft.core.GraftFunctions.hash64(
          concat_ws("|", lit("resv"), col("doc_id").cast("string"))))
        .orderBy("h", "doc_id").limit(100)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, lang, source, n_chars FROM (
              |  SELECT doc_id, lang, source, n_chars
              |  FROM documents
              |  ORDER BY ${Sql.hash64("'resv|' || CAST(doc_id AS VARCHAR)")},
              |    doc_id LIMIT 100)
              |ORDER BY doc_id""".stripMargin)),

    // Poisson bootstrap over the corpus: 32 deterministic resampling
    // replicas of the documents table, each row contributing
    // Poisson(1)-many copies per replica via inverse-CDF on the salted
    // hash (CDF quantized to 1e-4 — thresholds 3679/7358/9197/9810/
    // 9963/9994, identical constants in both engines, so the draw is
    // engine-exact). Output is one exact row per replica: draw count,
    // total chars, and the replica mean in integer ppm — the spread
    // across replicas IS the bootstrap CI of mean document length,
    // computed without any RNG state or driver-side resampling. Scale
    // shape: a map-side 32× explode (codegen'd MD5) into a 32-group
    // partial agg — raw rows never shuffle, so the cost is one corpus
    // scan regardless of cluster size. The ppm mean holds in int64 to
    // ~9e12 total chars per replica; past that, widen to DECIMAL.
    QueryDef("sample_bootstrap",
      (s, dir) => Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          explode(sequence(lit(0L), lit(31L))).as("replica"))
        .withColumn("h", graft.ops.Sampling.hashBucket(
          concat_ws("#", col("doc_id"), col("replica")), "boot"))
        .withColumn("copies",
          when(col("h") < 3679, 0).when(col("h") < 7358, 1)
            .when(col("h") < 9197, 2).when(col("h") < 9810, 3)
            .when(col("h") < 9963, 4).when(col("h") < 9994, 5)
            .otherwise(6))
        .groupBy("replica")
        .agg(sum(col("copies")).cast("long").as("n_drawn"),
          sum(col("copies") * col("n_chars")).cast("long")
            .as("total_chars"))
        // greatest(n_drawn, 1): a replica can draw zero rows on a tiny
        // corpus — bare division would be NULL here but a hard error in
        // DuckDB, failing the tri-check asymmetrically; the guard is
        // mirrored verbatim in the oracle (0 chars div 1 = 0 both sides)
        .withColumn("mean_chars_ppm",
          expr("total_chars * 1000000 div greatest(n_drawn, 1L)"))
        .orderBy("replica"),
      Some(s"""WITH reps AS (
              |  SELECT unnest(generate_series(0, 31)) AS replica),
              |drawn AS (
              |  SELECT replica,
              |    CASE WHEN h < 3679 THEN 0 WHEN h < 7358 THEN 1
              |      WHEN h < 9197 THEN 2 WHEN h < 9810 THEN 3
              |      WHEN h < 9963 THEN 4 WHEN h < 9994 THEN 5
              |      ELSE 6 END AS copies, n_chars
              |  FROM (SELECT d.doc_id, d.n_chars, r.replica,
              |      ${Sql.hash64("'boot|' || CAST(d.doc_id AS VARCHAR)" +
                  " || '#' || CAST(r.replica AS VARCHAR)")} % 10000 AS h
              |    FROM documents d CROSS JOIN reps r)),
              |agg AS (
              |  SELECT replica, CAST(sum(copies) AS BIGINT) AS n_drawn,
              |    CAST(sum(copies * n_chars) AS BIGINT) AS total_chars
              |  FROM drawn GROUP BY 1)
              |SELECT replica, n_drawn, total_chars,
              |  total_chars * 1000000 // greatest(n_drawn, 1) AS mean_chars_ppm
              |FROM agg ORDER BY replica""".stripMargin)),

    // Mixture rebalancing: two-pass water-filling against a uniform
    // per-source target — see ops/Mixture.scala for the allocation rule
    // and its overflow-safe arithmetic.
    QueryDef("curation_mixture_solver",
      (s, dir) => graft.ops.Mixture.solve(Tables.read(s, dir, "documents")),
      Some("""WITH a AS (SELECT source, count(*) AS avail
             |          FROM documents GROUP BY 1),
             |t AS (SELECT CAST(sum(avail) AS BIGINT) AS total,
             |        count(*) AS nsrc FROM a),
             |r1 AS (SELECT source, avail, total // 10 AS budget,
             |         least(avail, (total // 10) // nsrc) AS a1,
             |         avail - least(avail, (total // 10) // nsrc) AS cap
             |       FROM a CROSS JOIN t),
             |t2 AS (SELECT CAST(sum(a1) AS BIGINT) AS s1,
             |         CAST(sum(cap) AS BIGINT) AS scap FROM r1),
             |r2 AS (SELECT source, avail,
             |         a1 + CASE WHEN scap > 0 THEN
             |             least(cap, CAST(floor(
             |               CAST(budget - s1 AS DOUBLE) * cap / scap)
             |               AS BIGINT))
             |           ELSE CAST(0 AS BIGINT) END AS alloc
             |       FROM r1 CROSS JOIN t2)
             |SELECT source, avail, alloc,
             |  round(CAST(alloc AS DOUBLE) / CAST(avail AS DOUBLE), 6)
             |    AS rate
             |FROM r2 ORDER BY source""".stripMargin)),

    // RAKING / iterative proportional fitting (see Mixture.rake): cell
    // weights calibrated so the weighted lang AND source marginals both
    // hit uniform targets — 3 alternating row/column scaling iterations
    // over the |lang|·|source| contingency table. The oracle unrolls the
    // same iterations as CTEs with the identical round-then-decimal-sum
    // marginals, so the fixed-point trajectory is engine-exact step by
    // step, not just at convergence.
    QueryDef("curation_raking",
      (s, dir) => graft.ops.Mixture.rake(Tables.read(s, dir, "documents")),
      Some {
        def step(prev: String, cur: String, part: String,
            tgt: String): String =
          s"""$cur AS (SELECT lang, source, n, total, nl, ns,
             |  round(w * ((CAST(total AS DOUBLE) / $tgt) /
             |    CAST(sum(CAST(round(w * n, 12) AS DECIMAL(28,12)))
             |      OVER (PARTITION BY $part) AS DOUBLE)), 12) AS w
             |  FROM $prev)""".stripMargin
        val iterations = (1 to 3).flatMap { i =>
          Seq(step(if (i == 1) "it0" else s"it${i - 1}b", s"it${i}a",
            "lang", "nl"),
            step(s"it${i}a", s"it${i}b", "source", "ns"))
        }.mkString(",\n")
        s"""WITH cells AS (SELECT lang, source, count(*) AS n
           |  FROM documents GROUP BY 1, 2),
           |t AS (SELECT CAST(sum(n) AS BIGINT) AS total,
           |  count(DISTINCT lang) AS nl, count(DISTINCT source) AS ns
           |  FROM cells),
           |it0 AS (SELECT lang, source, n, total, nl, ns,
           |  CAST(1.0 AS DOUBLE) AS w FROM cells CROSS JOIN t),
           |$iterations
           |SELECT lang, source, n AS n_docs, round(w, 6) AS weight
           |FROM it3b ORDER BY lang, source""".stripMargin
      }),

    // DSIR-style target-affinity selection (Xie et al., NeurIPS 2023):
    // score every doc by its hashed-unigram target/raw count-ratio
    // profile (fixed-point rational surrogate for the log-likelihood
    // ratio — monotone-equivalent for selection, integral for the gate;
    // see Sampling.dsirAffinity), keep the top 20. Bucket table is
    // domain-bounded (4096 rows) and broadcast; top-k is TakeOrdered.
    QueryDef("curation_dsir",
      (s, dir) => Sampling.dsirAffinity(Tables.read(s, dir, "documents")),
      Some(s"""WITH toks AS (SELECT doc_id, lang,
              |    unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
              |  FROM documents),
              |tb AS (SELECT doc_id, lang,
              |    ${Sql.hash64("'dsir|' || w")} % 4096 AS b FROM toks),
              |stats AS (SELECT b,
              |    (count(*) FILTER (WHERE lang = 'en') + 1) * 1000000
              |      // (count(*) + 1) AS ratio_ppm
              |  FROM tb GROUP BY b),
              |d AS (SELECT doc_id, count(*) AS n_tokens,
              |    sum(ratio_ppm) AS rsum
              |  FROM tb JOIN stats USING (b) GROUP BY doc_id)
              |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
              |  CAST(rsum // n_tokens AS BIGINT) AS affinity_ppm
              |FROM d ORDER BY affinity_ppm DESC, doc_id
              |LIMIT 20""".stripMargin)),

    // Per-source frequency cap (the domain-cap curation step): keep at
    // most 15 docs per source, chosen by smallest salted hash — a
    // deterministic uniform draw. Engine side runs the graft_top_k_by
    // bounded-state aggregate (cap-row state per key, map-side partial
    // combine — the skew-proof form of a per-source rank window); the
    // oracle is the plain window form, so the aggregate's keep set is
    // gated against the rank definition.
    QueryDef("curation_domain_cap",
      (s, dir) => Sampling.capPerGroup(
        Tables.read(s, dir, "documents"), "source", 15),
      Some(s"""WITH h AS (SELECT source, doc_id,
              |    ${Sql.hash64("'cap|' || CAST(doc_id AS VARCHAR)")}
              |      % 1000000000000 AS hv
              |  FROM documents),
              |r AS (SELECT source, doc_id, row_number()
              |    OVER (PARTITION BY source ORDER BY hv, doc_id) AS rn
              |  FROM h)
              |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(CASE WHEN rn <= 15 THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_kept,
              |  CAST(sum(CASE WHEN rn <= 15 THEN doc_id ELSE 0 END) AS BIGINT)
              |    AS kept_id_sum
              |FROM r GROUP BY source ORDER BY source""".stripMargin))
  )
}
