package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.QueryDef.Sql
import graft.core.{GraftFunctions, Tables}
import graft.ops.{Dedup, Evaluate, Forecast, TextOps}

/** Round-10 extension surface: ML-adjacent pipeline operators — offline
  * eval metrics (AUC / NDCG), leakage-safe target encoding, feature
  * hashing, per-series forecasting and period detection, PMI collocations,
  * PII scrubbing, blocked record linkage, and whole-graph connected
  * components. Every entry is oracle-gated (SURVEY §7.6 discipline).
  */
object MlQueries {

  /** Deterministic PII classes injected onto the synthetic corpus (the
    * corpus itself contains none) — both engines append the SAME derived
    * tokens, so detection exercises real regexes over real text offsets.
    */
  private val PiiClasses: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4" -> "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b",
    "phone" -> "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b",
    "ssn" -> "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b")

  /** DuckDB 64-dim dot products (the PipelineQueries dotSql convention).
    * Declared before [[all]] — object vals initialize in order.
    */
  private def tripDot(x: String, y: String): String =
    s"list_sum([CAST($x[i] * $y[i] AS DOUBLE) for i in generate_series(1, 64)])"
  private val TripDotSelf = tripDot("embedding", "embedding")
  private val TripDotAn = tripDot("a.embedding", "n.embedding")

  private val piiAugSql =
    """SELECT doc_id, text
      |  || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
      |  || CASE WHEN doc_id % 11 = 0 THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' on file' ELSE '' END
      |  || CASE WHEN doc_id % 13 = 0 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1 up' ELSE '' END
      |  || CASE WHEN doc_id % 17 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' ELSE '' END
      |  AS t FROM documents""".stripMargin
      // single line: this fragment is re-interpolated into another
      // stripMargin string, which would strip the leading `|` of a
      // line-initial `||` concat
      .replace('\n', ' ')

  val all: Seq[QueryDef] = Seq(

    // Whole-graph connected components via the alternating large-star /
    // small-star edge rewrite (the CC-in-MapReduce formulation that
    // converges in O(log n) rounds with NODE-bounded per-round state —
    // the only CC shape that survives a 100 TB edge list). Reuses the
    // dedup layer's component engine on the supplier–customer bipartite
    // graph, hash-sparsified to 0.5% so the components are non-trivial at
    // every SF. Output is the component-size census — bounded by the
    // number of distinct sizes. Oracle: recursive min-reach closure.
    QueryDef("graph_connected_components",
      (s, dir) => {
        val base = GraphFixtures.edges(s, dir)
          .select(col("src").as("doc_a"), col("dst").as("doc_b"))
        val sparse = base.filter(pmod(GraftFunctions.hash64(
          concat_ws("|", lit("cc"), col("doc_a").cast("string"),
            col("doc_b").cast("string"))), lit(1000L)) < 5)
        Dedup.lssComponents(sparse)
          .groupBy("canonical_id").agg(count(lit(1)).as("sz"))
          .groupBy("sz").agg(count(lit(1)).as("n_components"))
          .select(col("sz").as("component_size"), col("n_components"),
            (col("sz") * col("n_components")).cast("long").as("n_nodes"))
          .orderBy("component_size")
      },
      Some(s"""WITH RECURSIVE base AS (
              |  SELECT l_suppkey * 2 AS u, o_custkey * 2 + 1 AS v
              |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
              |sp AS (SELECT DISTINCT u, v FROM base
              |  WHERE ${Sql.hash64("'cc|' || CAST(u AS VARCHAR) || '|' || CAST(v AS VARCHAR)")} % 1000 < 5),
              |e AS (SELECT u AS a, v AS b FROM sp UNION SELECT v, u FROM sp),
              |n AS (SELECT DISTINCT a AS node FROM e),
              |walk(node, reach) AS (
              |  SELECT node, node FROM n
              |  UNION
              |  SELECT w.node, e.b FROM walk w JOIN e ON e.a = w.reach),
              |comp AS (SELECT node, min(reach) AS c FROM walk GROUP BY 1),
              |sizes AS (SELECT c, count(*) AS sz FROM comp GROUP BY 1)
              |SELECT sz AS component_size, count(*) AS n_components,
              |  CAST(sz * count(*) AS BIGINT) AS n_nodes
              |FROM sizes GROUP BY 1 ORDER BY component_size""".stripMargin)),

    // PII detect-and-redact census: regex classes over the (deterministic
    // PII-injected) corpus — per class, how many docs hit, how many
    // matches, how many chars a redaction pass removes. ONE corpus scan
    // computes all 12 aggregates map-side; the 4-row presentation is an
    // explode over the aggregated struct, not a re-scan. The per-doc cost
    // is regex-linear — at 100 TB this is compute-bound map work with a
    // 4-row result, the ideal Spark shape.
    QueryDef("curation_pii_scrub",
      (s, dir) => {
        val aug = Tables.read(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 7 === 0, concat(lit(" contact user"),
              col("doc_id").cast("string"), lit("@example.com now")))
              .otherwise(""),
            when(col("doc_id") % 11 === 0, concat(lit(" ssn 123-45-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" on file"))).otherwise(""),
            when(col("doc_id") % 13 === 0, concat(lit(" host 10."),
              (col("doc_id") % 256).cast("string"), lit(".0.1 up")))
              .otherwise(""),
            when(col("doc_id") % 17 === 0, concat(lit(" call 555-"),
              lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
              lit(" today"))).otherwise("")).as("t"))
        val aggs = PiiClasses.flatMap { case (cls, re) =>
          val cnt = regexp_count(col("t"), lit(re))
          Seq(sum(when(cnt > 0, 1L).otherwise(0L)).as(s"d_$cls"),
            sum(cnt.cast("long")).as(s"m_$cls"),
            sum(length(col("t")) -
              length(regexp_replace(col("t"), re, ""))).as(s"c_$cls"))
        }
        aug.agg(aggs.head, aggs.tail: _*)
          .select(explode(array(PiiClasses.map { case (cls, _) =>
            struct(lit(cls).as("pii_class"), col(s"d_$cls").as("n_docs"),
              col(s"m_$cls").as("n_matches"), col(s"c_$cls").as("n_chars"))
          }: _*)).as("r"))
          .select("r.pii_class", "r.n_docs", "r.n_matches", "r.n_chars")
          .orderBy("pii_class")
      },
      Some(s"""WITH aug AS ($piiAugSql),
              |per AS (SELECT
              |${PiiClasses.map { case (cls, re) =>
                 s"""  len(regexp_extract_all(t, '$re')) AS m_$cls,
                    |  length(t) - length(regexp_replace(t, '$re', '', 'g')) AS c_$cls""".stripMargin
               }.mkString(",\n")}
              |  FROM aug)
              |${PiiClasses.map { case (cls, _) =>
                 s"""SELECT '$cls' AS pii_class,
                    |  CAST(sum(CASE WHEN m_$cls > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
                    |  CAST(sum(m_$cls) AS BIGINT) AS n_matches,
                    |  CAST(sum(c_$cls) AS BIGINT) AS n_chars FROM per""".stripMargin
               }.mkString("\nUNION ALL\n")}
              |ORDER BY pii_class""".stripMargin)),

    // Leakage-safe K-fold target encoding of customer segment against
    // order value — the encoder table (segment × fold) from three
    // decimal-exact aggregations; see Evaluate.targetEncode.
    QueryDef("fn_target_encode",
      (s, dir) => {
        val j = Tables.read(s, dir, "orders")
          .join(Tables.read(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
        Evaluate.targetEncode(j, "c_mktsegment", pmod(col("o_custkey"),
          lit(5L)), "o_totalprice")
      },
      Some("""WITH j AS (SELECT c.c_mktsegment AS segment,
             |    o.o_custkey % 5 AS fold, o.o_totalprice AS y
             |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
             |g AS (SELECT CAST(sum(CAST(y AS DECIMAL(20,6))) AS DOUBLE) AS gs,
             |  CAST(count(*) AS DOUBLE) AS gn FROM j),
             |cs AS (SELECT segment,
             |  CAST(sum(CAST(y AS DECIMAL(20,6))) AS DOUBLE) AS csum,
             |  CAST(count(*) AS DOUBLE) AS cn FROM j GROUP BY 1),
             |fs AS (SELECT segment, fold,
             |  CAST(sum(CAST(y AS DECIMAL(20,6))) AS DOUBLE) AS fsum,
             |  count(*) AS fcnt FROM j GROUP BY 1, 2)
             |SELECT f.segment, CAST(f.fold AS BIGINT) AS fold,
             |  CAST(f.fcnt AS BIGINT) AS n_rows,
             |  round((c.csum - f.fsum + 10 * (g.gs / g.gn)) /
             |        (c.cn - f.fcnt + 10), 6) AS enc
             |FROM fs f JOIN cs c USING (segment) CROSS JOIN g
             |ORDER BY segment, fold""".stripMargin)),

    // ROC AUC of event value as a purchase-vs-view score, in the
    // distinct-score rank-sum form (see Evaluate.aucByScore).
    QueryDef("eval_auc",
      (s, dir) => Evaluate.aucByScore(
        Tables.read(s, dir, "events")
          .filter(col("event_type").isin("purchase", "view"))
          .select(col("value").as("score"),
            when(col("event_type") === "purchase", 1).otherwise(0)
              .as("label")),
        "score", "label"),
      Some("""WITH scored AS (SELECT value AS score,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
             |  FROM events
             |  WHERE event_type IN ('purchase', 'view')
             |    AND value IS NOT NULL),
             |per_s AS (SELECT score, CAST(sum(label) AS BIGINT) AS np,
             |    CAST(count(*) - sum(label) AS BIGINT) AS nn
             |  FROM scored GROUP BY 1),
             |cum AS (SELECT np, nn,
             |    CAST(coalesce(sum(nn) OVER (ORDER BY score
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS BIGINT) AS nn_below
             |  FROM per_s),
             |u AS (SELECT CAST(sum(CAST(np AS HUGEINT)
             |      * (nn_below * 2 + nn)) AS DOUBLE) / 2 AS usum
             |  FROM cum),
             |tot AS (SELECT CAST(sum(np) AS BIGINT) AS npos,
             |               CAST(sum(nn) AS BIGINT) AS nneg FROM per_s)
             |SELECT npos AS n_pos, nneg AS n_neg,
             |  round(usum / (CAST(npos AS DOUBLE) * nneg), 6) AS auc
             |FROM u CROSS JOIN tot""".stripMargin)),

    // Average precision (PR-AUC in rank-sum form) for the same scored
    // frame as eval_auc — the class-skew-honest metric for rare-positive
    // curation filters. Deterministic-tie definition (rank over
    // score desc, event_id); both global ranks run through the NATIVE
    // distributed row_number operator (plans/GlobalRank); each positive
    // contributes the exact integral term (p·1e6) div k.
    QueryDef("eval_pr_auc",
      (s, dir) => Evaluate.averagePrecision(
        Tables.read(s, dir, "events")
          .filter(col("event_type").isin("purchase", "view"))
          .select(col("event_id"), col("value").as("score"),
            when(col("event_type") === "purchase", 1).otherwise(0)
              .as("label")),
        "score", "label", "event_id"),
      Some("""WITH scored AS (SELECT event_id AS id, value AS score,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
             |  FROM events
             |  WHERE event_type IN ('purchase', 'view')
             |    AND value IS NOT NULL),
             |r AS (SELECT id, label,
             |    row_number() OVER (ORDER BY score DESC, id) AS k
             |  FROM scored),
             |p AS (SELECT k, row_number() OVER (ORDER BY k) AS p
             |  FROM r WHERE label = 1)
             |SELECT CAST((SELECT count(*) FROM p) AS BIGINT) AS n_pos,
             |  CAST((SELECT count(*) FROM scored) AS BIGINT) AS n_scored,
             |  CAST(sum(p * 1000000 // k) // (SELECT count(*) FROM p)
             |    AS BIGINT) AS ap_ppm
             |FROM p""".stripMargin)),

    // Mean NDCG@10 per user: graded relevance from event type, predicted
    // ranking by value (see Evaluate.meanNdcgAt10 for the exact-integer
    // discount discipline).
    QueryDef("eval_ndcg",
      (s, dir) => Evaluate.meanNdcgAt10(
        Tables.read(s, dir, "events").select(col("user_id"), col("event_id"),
          col("value"),
          when(col("event_type") === "purchase", 3)
            .when(col("event_type") === "click", 2)
            .when(col("event_type") === "signup", 1)
            .when(col("event_type") === "view", 1)
            .otherwise(0).as("rel")),
        "user_id", "event_id", "value", "rel"),
      Some(s"""WITH rel AS (SELECT user_id, event_id, value,
              |    CASE event_type WHEN 'purchase' THEN 3 WHEN 'click' THEN 2
              |      WHEN 'signup' THEN 1 WHEN 'view' THEN 1 ELSE 0 END AS rel
              |  FROM events),
              |pred AS (SELECT user_id, rel,
              |    row_number() OVER (PARTITION BY user_id
              |      ORDER BY value DESC, event_id) AS r FROM rel),
              |ideal AS (SELECT user_id, rel,
              |    row_number() OVER (PARTITION BY user_id
              |      ORDER BY rel DESC, event_id) AS r FROM rel),
              |ds AS (SELECT unnest(range(1, 11)) AS r,
              |    unnest([${Evaluate.NdcgDiscounts.map(d =>
                     s"CAST($d AS BIGINT)").mkString(", ")}]) AS d),
              |dcg AS (SELECT user_id, sum(rel * d) AS s FROM pred
              |  JOIN ds USING (r) GROUP BY 1),
              |idcg AS (SELECT user_id, sum(rel * d) AS s FROM ideal
              |  JOIN ds USING (r) GROUP BY 1),
              |per_u AS (SELECT d.user_id,
              |    round(CAST(d.s AS DOUBLE) / i.s, 9) AS ndcg
              |  FROM dcg d JOIN idcg i USING (user_id) WHERE i.s > 0)
              |SELECT count(*) AS n_users,
              |  round(CAST(sum(CAST(ndcg AS DECIMAL(18,9))) AS DOUBLE) /
              |    count(*), 6) AS mean_ndcg
              |FROM per_u""".stripMargin)),

    // Mutual information between two categorical features (event type ×
    // day-of-week) — the model-free feature-relevance screen that ranks
    // candidate features before any training run (information-gain
    // feature selection). MI = Σ_xy (n_xy/N)·ln(n_xy·N / (n_x·n_y)) over
    // EXACT integer contingency counts: three map-side-combinable
    // aggregates (cells, row-marginals, col-marginals — each bounded by
    // its domain, never by rows), marginals broadcast back onto the
    // |X|·|Y|-bounded cell table. Per-cell terms rounded to 9 dp and
    // decimal-summed (the meanNdcgAt10 discipline) so the cross-cell sum
    // is order-independent; the ln sees identically-sequenced double
    // products in both engines (counts ≤ ~3e7 here, so n_xy·N stays an
    // exact double; at 100 TB switch the ratio to (n_xy/n_x)·(N/n_y)
    // before the log). Output: domain sizes, N, and MI in nats.
    QueryDef("eval_mutual_info",
      (s, dir) => {
        val ev = Tables.read(s, dir, "events")
          .select(col("event_type").as("x"),
            dayofweek(col("ts")).cast("long").as("y"))
        val cells = ev.groupBy("x", "y").agg(count(lit(1)).as("n_xy"))
        val mx = ev.groupBy("x").agg(count(lit(1)).as("n_x"))
        val my = ev.groupBy("y").agg(count(lit(1)).as("n_y"))
        val tot = ev.agg(count(lit(1)).as("n"))
        def d(c: org.apache.spark.sql.Column) = c.cast("double")
        cells
          .join(broadcast(mx), "x").join(broadcast(my), "y")
          .crossJoin(broadcast(tot))
          .select(round((d(col("n_xy")) / d(col("n"))) *
            log((d(col("n_xy")) * d(col("n"))) /
              (d(col("n_x")) * d(col("n_y")))), 9).as("term"),
            col("n"))
          .groupBy("n")
          .agg(count(lit(1)).as("n_cells"),
            round(sum(col("term").cast("decimal(18,9)")).cast("double"), 6)
              .as("mi_nats"))
          .select(col("n").as("n_events"), col("n_cells"), col("mi_nats"))
      },
      Some("""WITH ev AS (SELECT event_type AS x,
             |    CAST(dayofweek(ts) + 1 AS BIGINT) AS y FROM events),
             |cells AS (SELECT x, y, count(*) AS n_xy FROM ev GROUP BY 1, 2),
             |mx AS (SELECT x, count(*) AS n_x FROM ev GROUP BY 1),
             |my AS (SELECT y, count(*) AS n_y FROM ev GROUP BY 1),
             |tot AS (SELECT count(*) AS n FROM ev),
             |terms AS (SELECT n,
             |    round((CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE)) *
             |      ln((CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE)) /
             |        (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))), 9)
             |      AS term
             |  FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot)
             |SELECT n AS n_events, count(*) AS n_cells,
             |  round(CAST(sum(CAST(term AS DECIMAL(18,9))) AS DOUBLE), 6)
             |    AS mi_nats
             |FROM terms GROUP BY 1""".stripMargin)),

    // Weight-of-evidence binning + information value — the scorecard
    // twin of target encoding: per equal-width value bin,
    // WOE = ln(good_share / bad_share) with +1 Laplace counts, and
    // IV = Σ (good_share − bad_share)·WOE ranks the feature's predictive
    // power (the credit-risk feature screen; composes with
    // eval_mutual_info's model-free view). Bin edges derive from the
    // exact global min/max (one map-side pass, the profile_psi grid), so
    // bin assignment is the identical IEEE division in both engines;
    // counts are exact integers, shares divide once in double, terms
    // round to 9 dp and decimal-sum into IV.
    QueryDef("fn_woe_iv",
      (s, dir) => {
        val ev = Tables.read(s, dir, "events")
          .filter(col("event_type").isin("purchase", "view") &&
            col("value").isNotNull)
          .select(col("value"),
            when(col("event_type") === "purchase", 1L).otherwise(0L)
              .as("good"))
        val rng = ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
        val binned = ev.crossJoin(broadcast(rng))
          .select(least(floor((col("value") - col("lo")) /
            nullif((col("hi") - col("lo")) / 10, lit(0.0))), lit(9.0))
            .cast("long").as("bin"), col("good"))
        val c = binned.groupBy("bin")
          .agg((lit(1) + sum(col("good"))).as("n_good"),
            (lit(1) + count(lit(1)) - sum(col("good"))).as("n_bad"))
        val t = c.agg(sum(col("n_good")).cast("double").as("tg"),
          sum(col("n_bad")).cast("double").as("tb"))
        def d(c0: org.apache.spark.sql.Column) = c0.cast("double")
        val woe = c.crossJoin(broadcast(t))
          .select(col("bin"), col("n_good").cast("long").as("n_good"),
            col("n_bad").cast("long").as("n_bad"),
            round(log((d(col("n_good")) / col("tg")) /
              (d(col("n_bad")) / col("tb"))), 6).as("woe"),
            round((d(col("n_good")) / col("tg") -
              d(col("n_bad")) / col("tb")) *
              log((d(col("n_good")) / col("tg")) /
                (d(col("n_bad")) / col("tb"))), 9).as("term"))
          .localCheckpoint()
        val iv = woe.agg(round(sum(col("term").cast("decimal(18,9)"))
          .cast("double"), 6).as("iv"))
        woe.crossJoin(broadcast(iv))
          .select(col("bin"), col("n_good"), col("n_bad"), col("woe"),
            col("iv"))
          .orderBy("bin")
      },
      Some("""WITH ev AS (SELECT value,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
             |      AS good
             |  FROM events
             |  WHERE event_type IN ('purchase', 'view')
             |    AND value IS NOT NULL),
             |rng AS (SELECT min(value) AS lo, max(value) AS hi FROM ev),
             |b AS (SELECT CAST(least(
             |      floor((value - rng.lo) / nullif((rng.hi - rng.lo) / 10, 0)),
             |      9) AS BIGINT) AS bin, good
             |  FROM ev CROSS JOIN rng),
             |c AS (SELECT bin,
             |    1 + CAST(sum(good) AS BIGINT) AS n_good,
             |    1 + CAST(count(*) - sum(good) AS BIGINT) AS n_bad
             |  FROM b GROUP BY 1),
             |t AS (SELECT CAST(sum(n_good) AS DOUBLE) AS tg,
             |             CAST(sum(n_bad) AS DOUBLE) AS tb FROM c),
             |w AS (SELECT bin, n_good, n_bad,
             |    round(ln((CAST(n_good AS DOUBLE) / t.tg) /
             |             (CAST(n_bad AS DOUBLE) / t.tb)), 6) AS woe,
             |    round((CAST(n_good AS DOUBLE) / t.tg
             |           - CAST(n_bad AS DOUBLE) / t.tb) *
             |      ln((CAST(n_good AS DOUBLE) / t.tg) /
             |         (CAST(n_bad AS DOUBLE) / t.tb)), 9) AS term
             |  FROM c CROSS JOIN t),
             |iv AS (SELECT round(CAST(sum(CAST(term AS DECIMAL(18,9)))
             |    AS DOUBLE), 6) AS iv FROM w)
             |SELECT bin, n_good, n_bad, woe, iv
             |FROM w CROSS JOIN iv ORDER BY bin""".stripMargin)),

    // Theil-Sen robust trend per event-type series: the MEDIAN of all
    // pairwise slopes (y_j−y_i)/(d_j−d_i) over the daily-count series —
    // the estimator that shrugs off the outlier days that wreck an OLS
    // slope (29% breakdown point). The corpus collapses to the per-day
    // resample FIRST (one combinable aggregate — the stream never feeds
    // the pair join), so the pairwise explode is |days|²-bounded PER
    // SERIES: time-bounded, not corpus-bounded, embarrassingly parallel
    // across series. Median selection is rank-based (row_number to the
    // middle ranks, mean of the two middles when even) with a
    // deterministic tie order, identical in both engines; slopes are
    // exact-integer ratios divided once in double.
    QueryDef("ts_theil_sen",
      (s, dir) => {
        val daily = Tables.read(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val minDay = daily.agg(min(col("day")).as("d0"))
        val series = daily.crossJoin(broadcast(minDay))
          .select(col("event_type"),
            datediff(col("day"), col("d0")).cast("long").as("d"), col("y"))
        val pairs = series.as("a").join(series.as("b"),
            col("a.event_type") === col("b.event_type") &&
              col("a.d") < col("b.d"))
          .select(col("a.event_type").as("event_type"),
            col("a.d").as("da"), col("b.d").as("db"),
            ((col("b.y") - col("a.y")).cast("double") /
              (col("b.d") - col("a.d"))).as("slope"))
        val w = Window.partitionBy("event_type")
          .orderBy(col("slope"), col("da"), col("db"))
        val ranked = pairs
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("cnt", count(lit(1))
            .over(Window.partitionBy("event_type")))
        ranked
          .filter(col("rn") === expr("(cnt + 1) div 2") ||
            col("rn") === expr("(cnt + 2) div 2"))
          .groupBy("event_type")
          .agg(max(col("cnt")).as("n_pairs"),
            round(sum(col("slope")) / count(lit(1)), 6)
              .as("median_slope"))
          .orderBy("event_type")
      },
      Some("""WITH daily AS (
             |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS y
             |  FROM events GROUP BY 1, 2),
             |d0 AS (SELECT min(day) AS d0 FROM daily),
             |series AS (SELECT event_type,
             |    CAST(date_diff('day', d0.d0, day) AS BIGINT) AS d, y
             |  FROM daily CROSS JOIN d0),
             |pairs AS (SELECT a.event_type, a.d AS da, b.d AS db,
             |    CAST(b.y - a.y AS DOUBLE) / (b.d - a.d) AS slope
             |  FROM series a JOIN series b
             |    ON a.event_type = b.event_type AND a.d < b.d),
             |ranked AS (SELECT event_type, slope,
             |    CAST(row_number() OVER (PARTITION BY event_type
             |      ORDER BY slope, da, db) AS BIGINT) AS rn,
             |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
             |      AS cnt
             |  FROM pairs)
             |SELECT event_type, max(cnt) AS n_pairs,
             |  round(CAST(sum(slope) AS DOUBLE) / count(*), 6)
             |    AS median_slope
             |FROM ranked
             |WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
             |GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // Seasonal-trend decomposition of the global daily series (the
    // classical additive form: trend = centered 7-day moving average,
    // seasonal = per-weekday-phase mean of the detrended series,
    // remainder = what neither explains) — the diagnostic that splits
    // "traffic is growing" from "it's just Tuesday". All three parts are
    // windows/aggregates over the |days|-bounded resample: time-bounded,
    // not corpus-bounded. Exactness: the MA divides exact integer sums
    // once in double; detrended values round to 6 dp and the per-phase
    // mean decimal-sums them (order-independent) before its one double
    // division; remainder = detrended − seasonal, both already rounded.
    QueryDef("ts_stl",
      (s, dir) => {
        val daily = Tables.read(s, dir, "events")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val minDay = daily.agg(min(col("day")).as("d0"))
        val series = daily.crossJoin(broadcast(minDay))
          .select(datediff(col("day"), col("d0")).cast("long").as("d"),
            col("y"))
        val wMa = Window.orderBy("d").rowsBetween(-3, 3)
        val detr = series
          .withColumn("trend", round(sum(col("y")).over(wMa)
            .cast("double") / count(lit(1)).over(wMa), 6))
          .withColumn("detr", round(col("y") - col("trend"), 6))
          .withColumn("phase", pmod(col("d"), lit(7)))
          .localCheckpoint()
        val seasonal = detr.groupBy("phase")
          .agg(round(sum(col("detr").cast("decimal(18,6)")).cast("double") /
            count(lit(1)), 6).as("seasonal"))
        detr.join(broadcast(seasonal), "phase")
          .select(col("d"), col("y"), col("trend"), col("seasonal"),
            round(col("detr") - col("seasonal"), 6).as("remainder"))
          .orderBy("d")
      },
      Some("""WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y
             |  FROM events GROUP BY 1),
             |d0 AS (SELECT min(day) AS d0 FROM daily),
             |series AS (SELECT CAST(date_diff('day', d0.d0, day) AS BIGINT)
             |    AS d, y FROM daily CROSS JOIN d0),
             |tr AS (SELECT d, y,
             |    round(CAST(sum(y) OVER w AS DOUBLE) /
             |          count(*) OVER w, 6) AS trend
             |  FROM series
             |  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING
             |    AND 3 FOLLOWING)),
             |dt AS (SELECT d, y, trend, round(y - trend, 6) AS detr,
             |    d % 7 AS phase FROM tr),
             |se AS (SELECT phase,
             |    round(CAST(sum(CAST(detr AS DECIMAL(18,6))) AS DOUBLE) /
             |          count(*), 6) AS seasonal
             |  FROM dt GROUP BY 1)
             |SELECT d, y, trend, seasonal,
             |  round(detr - seasonal, 6) AS remainder
             |FROM dt JOIN se USING (phase) ORDER BY d""".stripMargin)),

    // Holt linear smoothing over daily per-type event counts, 7-day
    // forecast (see Forecast.holtForecast).
    QueryDef("ts_holt_forecast",
      (s, dir) => Forecast.holtForecast(
        Tables.read(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y")),
        "event_type", "day", "y"),
      Some("""WITH RECURSIVE daily AS (
             |  SELECT event_type, CAST(ts AS DATE) AS day,
             |    CAST(count(*) AS DOUBLE) AS y
             |  FROM events GROUP BY 1, 2),
             |series AS (SELECT event_type, y,
             |    row_number() OVER (PARTITION BY event_type ORDER BY day)
             |      AS i
             |  FROM daily),
             |init AS (SELECT s1.event_type, CAST(1 AS BIGINT) AS i,
             |    s1.y AS level, s2.y - s1.y AS trend
             |  FROM series s1 JOIN series s2
             |    ON s1.event_type = s2.event_type AND s1.i = 1 AND s2.i = 2),
             |hw(event_type, i, level, trend) AS (
             |  SELECT * FROM init
             |  UNION ALL
             |  SELECT h.event_type, h.i + 1,
             |    0.5 * s.y + 0.5 * (h.level + h.trend),
             |    0.25 * (0.5 * s.y + 0.5 * (h.level + h.trend) - h.level)
             |      + 0.75 * h.trend
             |  FROM hw h JOIN series s
             |    ON s.event_type = h.event_type AND s.i = h.i + 1),
             |last AS (SELECT event_type, level, trend FROM hw h
             |  WHERE i = (SELECT max(i) FROM hw h2
             |             WHERE h2.event_type = h.event_type)),
             |hz AS (SELECT unnest(range(1, 8)) AS h)
             |SELECT l.event_type, CAST(hz.h AS BIGINT) AS h,
             |  round(l.level + hz.h * l.trend, 6) AS yhat
             |FROM last l CROSS JOIN hz ORDER BY event_type, h""".stripMargin)),

    // Holt-Winters ADDITIVE SEASONAL smoothing (period 7) per event-type
    // daily series — holt plus a rolling 7-slot seasonal state on the
    // same aggregate fold (see Forecast.holtWinters for the exactness
    // discipline: binary-exact coefficients, explicit left-associated
    // init means, the oracle's recursive CTE carrying the seasonal LIST
    // through the identical recurrence).
    QueryDef("ts_holt_winters",
      (s, dir) => Forecast.holtWinters(
        Tables.read(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y")),
        "event_type", "day", "y"),
      Some("""WITH RECURSIVE daily AS (
             |  SELECT event_type, CAST(ts AS DATE) AS day,
             |    CAST(count(*) AS DOUBLE) AS y
             |  FROM events GROUP BY 1, 2),
             |series AS (SELECT event_type, y,
             |    row_number() OVER (PARTITION BY event_type ORDER BY day)
             |      AS i
             |  FROM daily),
             |p AS (SELECT event_type,
             |    max(CASE WHEN i = 1 THEN y END) AS y1,
             |    max(CASE WHEN i = 2 THEN y END) AS y2,
             |    max(CASE WHEN i = 3 THEN y END) AS y3,
             |    max(CASE WHEN i = 4 THEN y END) AS y4,
             |    max(CASE WHEN i = 5 THEN y END) AS y5,
             |    max(CASE WHEN i = 6 THEN y END) AS y6,
             |    max(CASE WHEN i = 7 THEN y END) AS y7,
             |    max(CASE WHEN i = 8 THEN y END) AS y8,
             |    max(CASE WHEN i = 9 THEN y END) AS y9,
             |    max(CASE WHEN i = 10 THEN y END) AS y10,
             |    max(CASE WHEN i = 11 THEN y END) AS y11,
             |    max(CASE WHEN i = 12 THEN y END) AS y12,
             |    max(CASE WHEN i = 13 THEN y END) AS y13,
             |    max(CASE WHEN i = 14 THEN y END) AS y14,
             |    max(i) AS n
             |  FROM series GROUP BY 1 HAVING max(i) >= 14),
             |init AS (SELECT event_type,
             |    (y1 + y2 + y3 + y4 + y5 + y6 + y7) / 7 AS l0,
             |    ((y8 + y9 + y10 + y11 + y12 + y13 + y14) / 7
             |      - (y1 + y2 + y3 + y4 + y5 + y6 + y7) / 7) / 7 AS b0,
             |    [y1 - (y1 + y2 + y3 + y4 + y5 + y6 + y7) / 7,
             |     y2 - (y1 + y2 + y3 + y4 + y5 + y6 + y7) / 7,
             |     y3 - (y1 + y2 + y3 + y4 + y5 + y6 + y7) / 7,
             |     y4 - (y1 + y2 + y3 + y4 + y5 + y6 + y7) / 7,
             |     y5 - (y1 + y2 + y3 + y4 + y5 + y6 + y7) / 7,
             |     y6 - (y1 + y2 + y3 + y4 + y5 + y6 + y7) / 7,
             |     y7 - (y1 + y2 + y3 + y4 + y5 + y6 + y7) / 7] AS seas
             |  FROM p),
             |hw(event_type, i, level, trend, seas) AS (
             |  SELECT event_type, CAST(7 AS BIGINT), l0, b0, seas
             |  FROM init
             |  UNION ALL
             |  SELECT h.event_type, h.i + 1,
             |    0.5 * (s.y - h.seas[1]) + 0.5 * (h.level + h.trend),
             |    0.25 * ((0.5 * (s.y - h.seas[1])
             |      + 0.5 * (h.level + h.trend)) - h.level)
             |      + 0.75 * h.trend,
             |    h.seas[2:7] ||
             |      [0.25 * (s.y - h.level - h.trend) + 0.75 * h.seas[1]]
             |  FROM hw h JOIN series s
             |    ON s.event_type = h.event_type AND s.i = h.i + 1),
             |last AS (SELECT event_type, level, trend, seas FROM hw h
             |  WHERE i = (SELECT max(i) FROM hw h2
             |             WHERE h2.event_type = h.event_type)),
             |hz AS (SELECT unnest(range(1, 8)) AS h)
             |SELECT l.event_type, CAST(hz.h AS BIGINT) AS h,
             |  round(l.level + hz.h * l.trend
             |    + l.seas[CAST(hz.h AS INT)], 6) AS yhat
             |FROM last l CROSS JOIN hz ORDER BY event_type, h""".stripMargin)),

    // Trig-free period detection over the global daily count series
    // (see Forecast.periodStrength).
    QueryDef("ts_period_detect",
      (s, dir) => {
        val daily = Tables.read(s, dir, "events")
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y"))
        val minDay = daily.agg(min(col("day")).as("d0"))
        Forecast.periodStrength(
          daily.crossJoin(broadcast(minDay))
            .select(datediff(col("day"), col("d0")).cast("long").as("d"),
              col("y")),
          "d", "y")
      },
      Some("""WITH daily AS (
             |  SELECT CAST(date_diff('day',
             |      (SELECT min(CAST(ts AS DATE)) FROM events),
             |      CAST(ts AS DATE)) AS BIGINT) AS d,
             |    count(*) AS y
             |  FROM events GROUP BY 1),
             |g AS (SELECT CAST(sum(y) AS DOUBLE) AS sy,
             |             CAST(sum(y * y) AS DOUBLE) AS syy,
             |             CAST(count(*) AS DOUBLE) AS n FROM daily),
             |p AS (SELECT unnest(range(2, 15)) AS p),
             |ph AS (SELECT p.p, d % p.p AS phase,
             |    CAST(sum(y) AS DOUBLE) AS s1,
             |    CAST(count(*) AS DOUBLE) AS cnt
             |  FROM daily CROSS JOIN p GROUP BY 1, 2),
             |bt AS (SELECT p, CAST(sum(CAST(round(s1 * s1 / cnt, 6)
             |    AS DECIMAL(28,6))) AS DOUBLE) AS ssb FROM ph GROUP BY 1)
             |SELECT CAST(bt.p AS BIGINT) AS period,
             |  round((bt.ssb - g.sy * g.sy / g.n) /
             |        nullif(g.syy - g.sy * g.sy / g.n, 0), 6) AS strength
             |FROM bt CROSS JOIN g ORDER BY period""".stripMargin)),

    // PMI-ranked bigram collocations: adjacent-pair counts vs unigram
    // marginals. Bigrams explode MAP-SIDE from each doc's token array (no
    // positional self-join), both count tables are map-side-combinable
    // groupBys, and the small vocab side broadcasts onto the bigram
    // counts. PMI's log sees an exact integer ratio, so the only
    // cross-engine rounding is the final 6 dp.
    QueryDef("text_collocations",
      (s, dir) => {
        val toks = Tables.read(s, dir, "documents")
          .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        val uni = toks.select(explode(col("t")).as("w"))
        val ucnt = uni.groupBy("w").agg(count(lit(1)).as("cw"))
        val nu = uni.agg(count(lit(1)).cast("double").as("nu"))
        val bg = toks.filter(size(col("t")) >= 2)
          .select(explode(expr(
            "transform(slice(t, 1, size(t) - 1), (x, i) -> " +
              "struct(x AS w1, element_at(t, i + 2) AS w2))")).as("z"))
          .select(col("z.w1"), col("z.w2"))
        val bcnt = bg.groupBy("w1", "w2").agg(count(lit(1)).as("cab"))
        val nb = bg.agg(count(lit(1)).cast("double").as("nb"))
        bcnt.filter(col("cab") >= 5)
          .join(broadcast(ucnt.withColumnRenamed("w", "w1")
            .withColumnRenamed("cw", "ca")), "w1")
          .join(broadcast(ucnt.withColumnRenamed("w", "w2")
            .withColumnRenamed("cw", "cb")), "w2")
          .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
          .select(col("w1"), col("w2"), col("cab").cast("long").as("n_pair"),
            round(log(col("cab") * col("nu") * col("nu") /
              (col("nb") * col("ca") * col("cb"))), 6).as("pmi"))
          .orderBy(desc("pmi"), col("w1"), col("w2")).limit(20)
      },
      Some("""WITH toks AS (SELECT doc_id,
             |    string_split_regex(lower(trim(text)), '\s+') AS t
             |  FROM documents),
             |uni AS (SELECT unnest(t) AS w FROM toks),
             |ucnt AS (SELECT w, count(*) AS cw FROM uni GROUP BY 1),
             |un AS (SELECT CAST(count(*) AS DOUBLE) AS nu FROM uni),
             |big AS (SELECT unnest(list_zip(list_slice(t, 1, len(t) - 1),
             |                               list_slice(t, 2, len(t)))) AS z
             |        FROM toks WHERE len(t) >= 2),
             |bg AS (SELECT z[1] AS w1, z[2] AS w2 FROM big),
             |bcnt AS (SELECT w1, w2, count(*) AS cab FROM bg GROUP BY 1, 2),
             |bn AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM bg)
             |SELECT w1, w2, CAST(cab AS BIGINT) AS n_pair,
             |  round(ln(cab * nu * nu / (nb * ca.cw * cb.cw)), 6) AS pmi
             |FROM bcnt JOIN ucnt ca ON bcnt.w1 = ca.w
             |JOIN ucnt cb ON bcnt.w2 = cb.w
             |CROSS JOIN un CROSS JOIN bn
             |WHERE cab >= 5
             |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin)),

    // Blocked record linkage: customers vs a deterministically-perturbed
    // copy (last name char replaced), blocked on a 7-char name prefix of
    // the id digits so candidates are block-bounded (|block| ≈ 100
    // regardless of SF — the skew-proof property), scored with edit
    // distance ≤ 2. Output: per-distance candidate counts and how many
    // are TRUE links (same entity) — the precision ladder a linkage
    // pipeline tunes its threshold on.
    QueryDef("join_record_linkage",
      (s, dir) => {
        // Linkage names derive from c_custkey, not c_name: the scaled
        // test corpora replicate rows with shifted KEYS but identical
        // names, which would grow every block with the replica count and
        // turn the per-block quadratic into a corpus-level one (measured
        // 35 s at sf1 from 150M pairs; 3 s once names are key-derived and
        // blocks stay ~100 wide at every SF). Key-derived names keep the
        // audit property blocking is FOR: candidate volume ∝ rows ×
        // block_width, independent of corpus size.
        // 12-digit pad: lpad TRUNCATES (identically in both engines) when
        // the rendered key outgrows the width — at sf2 the 10-digit
        // shifted keys collapsed to one shared-prefix name per 10 ids AND
        // an empty-substring block, i.e. one 150k-row block and a 22B-pair
        // quadratic (measured 35 s steady). 12 digits holds to 1e12 keys;
        // the block is all-but-the-last-2 digits → width ~100 at every SF.
        val c = Tables.read(s, dir, "customer")
          .select(col("c_custkey"), concat(lit("C#"),
            lpad(col("c_custkey").cast("string"), 12, "0")).as("nm"))
        val a = c.select(col("c_custkey").as("a_id"),
          col("nm").as("a_name"),
          substring(col("nm"), 3, 10).as("blk"))
        val b = c.select(col("c_custkey").as("b_id"),
          concat(expr("substr(nm, 1, length(nm) - 1)"), lit("X"))
            .as("b_name"),
          substring(col("nm"), 3, 10).as("blk"))
        // Pinned-width repartition on the block key: the probe side is BYTE-
        // tiny (15k rows at sf0.1) but the join EXPLODES |block|² scored
        // pairs per probe row, so AQE's size-based coalescing — which only
        // sees the pre-join bytes — squeezes a keyless REPARTITION_BY_COL
        // back to one partition and serializes all 1.5M comparisons
        // (measured 9.1 s at sf0.1; 0.6 s with the width pinned). The
        // explicit count survives AQE, and the block key keeps each block's
        // quadratic work on one task. THRESHOLDED levenshtein (the
        // join_fuzzy verify discipline): banded DP abandons a pair once the
        // distance must exceed 2 — O(k·n) per comparison, −1 past the band.
        a.repartition(s.sessionState.conf.numShufflePartitions,
            col("blk")).join(b, "blk")
          .select(col("a_id"), col("b_id"),
            levenshtein(col("a_name"), col("b_name"), 2).as("lev"))
          .filter(col("lev") >= 0)
          .groupBy(col("lev").cast("long").as("lev"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("a_id") === col("b_id"), 1L).otherwise(0L))
              .as("n_true"))
          .orderBy("lev")
      },
      Some("""WITH c AS (SELECT c_custkey, 'C#' ||
             |    lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS nm
             |  FROM customer),
             |a AS (SELECT c_custkey AS a_id, nm AS a_name,
             |    substr(nm, 3, 10) AS blk FROM c),
             |b AS (SELECT c_custkey AS b_id,
             |    substr(nm, 1, length(nm) - 1) || 'X' AS b_name,
             |    substr(nm, 3, 10) AS blk FROM c),
             |cand AS (SELECT a_id, b_id, levenshtein(a_name, b_name) AS lev
             |  FROM a JOIN b USING (blk)),
             |m AS (SELECT lev, a_id = b_id AS is_true FROM cand
             |  WHERE lev <= 2)
             |SELECT CAST(lev AS BIGINT) AS lev, count(*) AS n_pairs,
             |  CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_true
             |FROM m GROUP BY 1 ORDER BY lev""".stripMargin)),

    // Hashing-trick featurizer: tokens → 64 signed buckets (hash for the
    // bucket, an independent hash for the sign — the standard
    // collision-unbiasing trick). Pure map-side explode + one combinable
    // groupBy; emitted as sparse (doc, bucket, tf, signed-weight) rows,
    // the layout a downstream trainer consumes directly.
    QueryDef("fn_feature_hash",
      (s, dir) => {
        val toks = Tables.read(s, dir, "documents")
          .filter(col("doc_id") < 50)
          .select(col("doc_id"), explode(TextOps.tokens(col("text")))
            .as("tok"))
        toks.groupBy(col("doc_id"),
            pmod(GraftFunctions.hash64(concat(lit("fh|"), col("tok"))),
              lit(64L)).as("bucket"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(pmod(GraftFunctions.hash64(
                concat(lit("sg|"), col("tok"))), lit(2L)) === 0, 1L)
              .otherwise(-1L)).as("w"))
          .orderBy("doc_id", "bucket")
      },
      Some(s"""WITH toks AS (SELECT doc_id,
              |    unnest(string_split_regex(lower(trim(text)), '\\s+'))
              |      AS tok
              |  FROM documents WHERE doc_id < 50)
              |SELECT doc_id,
              |  ${Sql.hash64("'fh|' || tok")} % 64 AS bucket,
              |  count(*) AS n_tokens,
              |  CAST(sum(CASE WHEN ${Sql.hash64("'sg|' || tok")} % 2 = 0
              |    THEN 1 ELSE -1 END) AS BIGINT) AS w
              |FROM toks GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin)),

    // Benford first-digit drift detector: the observed leading-digit
    // distribution of order totals against log10(1+1/d), with per-digit
    // chi-square contributions — the classic fabricated-/synthetic-data
    // tripwire (it fires loudly here: the generator's totals are nowhere
    // near Benford, which is exactly what the detector is for). The first
    // digit comes from the BIGINT floor's string rendering (exact in both
    // engines), never from log-of-double bucketing; one map-side-combined
    // 9-group aggregate regardless of corpus size.
    QueryDef("profile_benford",
      (s, dir) => {
        val d = Tables.read(s, dir, "orders")
          .filter(col("o_totalprice") >= 1)
          .select(substring(floor(col("o_totalprice")).cast("long")
            .cast("string"), 1, 1).cast("long").as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n_obs"))
        val t = d.agg(sum(col("n_obs")).cast("double").as("nt"))
        val expN = col("nt") * log10(lit(1) + lit(1.0) / col("digit"))
        d.crossJoin(broadcast(t))
          .select(col("digit"), col("n_obs"),
            round(expN, 6).as("exp_n"),
            round((col("n_obs") - expN) * (col("n_obs") - expN) / expN, 6)
              .as("chi2_term"))
          .orderBy("digit")
      },
      Some("""WITH v AS (SELECT CAST(floor(o_totalprice) AS BIGINT) AS n
             |  FROM orders WHERE o_totalprice >= 1),
             |d AS (SELECT CAST(substr(CAST(n AS VARCHAR), 1, 1) AS BIGINT)
             |    AS digit, count(*) AS n_obs FROM v GROUP BY 1),
             |t AS (SELECT CAST(sum(n_obs) AS DOUBLE) AS nt FROM d)
             |SELECT digit, n_obs,
             |  round(t.nt * log10(1 + 1.0 / digit), 6) AS exp_n,
             |  round((n_obs - t.nt * log10(1 + 1.0 / digit)) *
             |        (n_obs - t.nt * log10(1 + 1.0 / digit)) /
             |        (t.nt * log10(1 + 1.0 / digit)), 6) AS chi2_term
             |FROM d CROSS JOIN t ORDER BY digit""".stripMargin)),

    // RFM (recency / frequency / monetary) quintile segmentation — the
    // standard customer-value grid: one user-keyed aggregate (the natural
    // shuffle key), then three quintile assignments over the USER table.
    // The user frame is data-proportional (N_users rows), so the naive
    // `ntile(5) OVER (ORDER BY ...)` — one task sorting every user — is
    // the round-11-verdict scale-killer; instead each metric gets an
    // exact DISTRIBUTED ntile via the native global-rank operator
    // (plans/GlobalRank NTile mode: range exchange + summary pass,
    // Spark's exact integer bucket rule from position + total),
    // so the plain-ntile oracle gates the distributed form. Monetary sums
    // go through DECIMAL so the quintile ORDERING is cross-engine
    // identical; every rank order ends in user_id so ties are
    // deterministic.
    QueryDef("events_rfm",
      (s, dir) => {
        val ev = Tables.read(s, dir, "events")
        val gmax = ev.agg(max(to_date(col("ts"))).as("gday"))
        val u = ev.groupBy("user_id")
          .agg(max(to_date(col("ts"))).as("uday"),
            count(lit(1)).as("freq"),
            sum(col("value").cast("decimal(20,6)")).cast("double")
              .as("mon"))
          .crossJoin(broadcast(gmax))
          .select(col("user_id"),
            datediff(col("gday"), col("uday")).as("rec"),
            col("freq"), col("mon"))
          .localCheckpoint() // one user agg feeds three rank exchanges
        // The three exact quintiles ride the NATIVE global-rank operator
        // in NTile mode (plans/GlobalRank, the same operator
        // text_perplexity_bucket gates against a plain-ntile oracle):
        // Spark's bucket rule (first n%k buckets take ceil(n/k) rows),
        // with no separate n_tot count subplan — one range exchange + one
        // shuffle-read summary pass per metric.
        val rr = graft.plans.GlobalRank.withNTile(
          u.select("user_id", "rec"), "r_q", 5,
          ("rec", true), ("user_id", true)).select("user_id", "r_q")
        val rf = graft.plans.GlobalRank.withNTile(
          u.select("user_id", "freq"), "f_q", 5,
          ("freq", false), ("user_id", true)).select("user_id", "f_q")
        val rm = graft.plans.GlobalRank.withNTile(
          u.select("user_id", "mon"), "m_q", 5,
          ("mon", false), ("user_id", true)).select("user_id", "m_q")
        rr.join(rf, "user_id").join(rm, "user_id")
          .groupBy(col("r_q").cast("long").as("r_q"),
            col("f_q").cast("long").as("f_q"),
            col("m_q").cast("long").as("m_q"))
          .agg(count(lit(1)).as("n_users"))
          .orderBy("r_q", "f_q", "m_q")
      },
      Some("""WITH u AS (SELECT user_id,
             |    date_diff('day', CAST(max(ts) AS DATE),
             |      (SELECT max(CAST(ts AS DATE)) FROM events)) AS rec,
             |    count(*) AS freq,
             |    CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS mon
             |  FROM events GROUP BY 1),
             |q AS (SELECT user_id,
             |    ntile(5) OVER (ORDER BY rec, user_id) AS r_q,
             |    ntile(5) OVER (ORDER BY freq DESC, user_id) AS f_q,
             |    ntile(5) OVER (ORDER BY mon DESC, user_id) AS m_q
             |  FROM u)
             |SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
             |  CAST(m_q AS BIGINT) AS m_q, count(*) AS n_users
             |FROM q GROUP BY 1, 2, 3 ORDER BY r_q, f_q, m_q""".stripMargin)),

    // Top event-sequence trigrams (path analysis one step past the Markov
    // transition matrix): two lead() taps on one per-user time-ordered
    // window — the stream shuffles ONCE on user_id — then a
    // map-side-combined count over path strings (alphabet³-bounded).
    QueryDef("events_trigram_paths",
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        Tables.read(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("ts"),
            col("event_id"))
          .withColumn("e2", lead(col("event_type"), 1).over(w))
          .withColumn("e3", lead(col("event_type"), 2).over(w))
          .filter(col("e2").isNotNull && col("e3").isNotNull)
          .select(concat(col("event_type"), lit(">"), col("e2"), lit(">"),
            col("e3")).as("path"))
          .groupBy("path").agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), col("path")).limit(20)
      },
      Some("""WITH s AS (SELECT user_id, event_type,
             |    lead(event_type, 1) OVER w AS e2,
             |    lead(event_type, 2) OVER w AS e3
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |p AS (SELECT event_type || '>' || e2 || '>' || e3 AS path
             |  FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL)
             |SELECT path, count(*) AS n FROM p GROUP BY 1
             |ORDER BY n DESC, path LIMIT 20""".stripMargin)),

    // Reciprocal-rank fusion of two rankings (Cormack et al. SIGIR'09) —
    // the standard hybrid-retrieval combiner (BM25 list + vector list in a
    // RAG stack; here the two rankings every analytics stack has on hand:
    // users by total value and by event count). Each ranking is an exact
    // DISTRIBUTED row_number over the aggregated user table (the native
    // plans/GlobalRank operator — the user frame is data-proportional,
    // so a global row_number window is the same single-partition-sort
    // scale-killer events_rfm had);
    // 1/(60+r) sums are closed-form doubles, identical engines, and the
    // fused top-20 is a TakeOrdered head, never a full sort.
    QueryDef("ann_rrf_fusion",
      (s, dir) => {
        val u = Tables.read(s, dir, "events").groupBy("user_id")
          .agg(count(lit(1)).as("freq"),
            sum(col("value").cast("decimal(20,6)")).cast("double")
              .as("mon"))
          .localCheckpoint() // one user agg feeds both rank exchanges
        // Exact ranks via the native global row_number (plans/GlobalRank):
        // one range exchange + one shuffle-read summary pass per rank
        val ra = graft.plans.GlobalRank.withRowNumber(
          u.select("user_id", "mon"), "ra",
          ("mon", false), ("user_id", true)).select("user_id", "ra")
        val rb = graft.plans.GlobalRank.withRowNumber(
          u.select("user_id", "freq"), "rb",
          ("freq", false), ("user_id", true)).select("user_id", "rb")
        ra.join(rb, "user_id")
          .select(col("user_id"), col("ra").as("rank_value"),
            col("rb").as("rank_count"),
            round(lit(1.0) / (lit(60) + col("ra")) +
              lit(1.0) / (lit(60) + col("rb")), 6).as("rrf"))
          .orderBy(desc("rrf"), col("user_id")).limit(20)
      },
      Some("""WITH u AS (SELECT user_id, count(*) AS freq,
             |    CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS mon
             |  FROM events GROUP BY 1),
             |ra AS (SELECT user_id,
             |    row_number() OVER (ORDER BY mon DESC, user_id) AS r FROM u),
             |rb AS (SELECT user_id,
             |    row_number() OVER (ORDER BY freq DESC, user_id) AS r FROM u)
             |SELECT u.user_id, CAST(ra.r AS BIGINT) AS rank_value,
             |  CAST(rb.r AS BIGINT) AS rank_count,
             |  round(1.0 / (60 + ra.r) + 1.0 / (60 + rb.r), 6) AS rrf
             |FROM u JOIN ra USING (user_id) JOIN rb USING (user_id)
             |ORDER BY rrf DESC, user_id LIMIT 20""".stripMargin)),

    // Hard-triplet mining for metric learning (see
    // Similarity.tripletMining for the broadcast-anchor scale shape).
    QueryDef("embedding_triplet_mining",
      (s, dir) => graft.ops.Similarity.tripletMining(
        Tables.read(s, dir, "embeddings")),
      Some(s"""WITH e AS (SELECT vec_id, label, embedding,
              |    sqrt($TripDotSelf) AS nrm FROM embeddings),
              |sc AS (SELECT a.vec_id AS anchor_id, a.label AS a_label,
              |    n.vec_id, n.label,
              |    round($TripDotAn / (a.nrm * n.nrm), 6) AS cos
              |  FROM e a JOIN e n ON n.vec_id <> a.vec_id
              |  WHERE a.vec_id < 20),
              |pos AS (SELECT anchor_id, vec_id AS pos_id, cos AS pos_cos
              |  FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
              |      ORDER BY cos, vec_id) AS r FROM sc
              |    WHERE label = a_label) WHERE r = 1),
              |neg AS (SELECT anchor_id, vec_id AS neg_id, cos AS neg_cos
              |  FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
              |      ORDER BY cos DESC, vec_id) AS r FROM sc
              |    WHERE label <> a_label) WHERE r = 1)
              |SELECT anchor_id, pos_id, pos_cos, neg_id, neg_cos,
              |  neg_cos + 0.1 > pos_cos AS violates
              |FROM pos JOIN neg USING (anchor_id)
              |ORDER BY anchor_id""".stripMargin)),

    // Rolling-origin backtest of the Holt forecaster (see
    // Forecast.holtBacktest: one fold fits AND evaluates — every prefix
    // state forecasts its incoming observation).
    QueryDef("ts_forecast_backtest",
      (s, dir) => Forecast.holtBacktest(
        Tables.read(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("y")),
        "event_type", "day", "y"),
      Some("""WITH RECURSIVE daily AS (
             |  SELECT event_type, CAST(ts AS DATE) AS day,
             |    CAST(count(*) AS DOUBLE) AS y
             |  FROM events GROUP BY 1, 2),
             |series AS (SELECT event_type, y,
             |    row_number() OVER (PARTITION BY event_type ORDER BY day)
             |      AS i
             |  FROM daily),
             |init AS (SELECT s1.event_type, CAST(1 AS BIGINT) AS i,
             |    s1.y AS level, s2.y - s1.y AS trend
             |  FROM series s1 JOIN series s2
             |    ON s1.event_type = s2.event_type AND s1.i = 1 AND s2.i = 2),
             |hw(event_type, i, level, trend) AS (
             |  SELECT * FROM init
             |  UNION ALL
             |  SELECT h.event_type, h.i + 1,
             |    0.5 * s.y + 0.5 * (h.level + h.trend),
             |    0.25 * (0.5 * s.y + 0.5 * (h.level + h.trend) - h.level)
             |      + 0.75 * h.trend
             |  FROM hw h JOIN series s
             |    ON s.event_type = h.event_type AND s.i = h.i + 1),
             |n AS (SELECT event_type, max(i) AS n FROM hw GROUP BY 1),
             |ev AS (SELECT h.event_type,
             |    round(h.level + h.trend - s.y, 6) AS err
             |  FROM hw h
             |  JOIN series s ON s.event_type = h.event_type
             |    AND s.i = h.i + 1
             |  JOIN n ON n.event_type = h.event_type
             |  WHERE h.i + 1 > n.n - 7)
             |SELECT event_type, count(*) AS n_evals,
             |  round(CAST(sum(CAST(abs(err) AS DECIMAL(18,6))) AS DOUBLE) /
             |    count(*), 6) AS mae,
             |  round(CAST(sum(CAST(err AS DECIMAL(18,6))) AS DOUBLE) /
             |    count(*), 6) AS bias
             |FROM ev GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // Class-balanced downsampling: every label keeps exactly min-class
    // rows, chosen by a deterministic hash order (not head-of-scan order,
    // which is partitioning-dependent) — the curation step that equalizes
    // a skewed label mix before training. The per-label window sees only
    // that label's partition; the min-count frame broadcasts.
    QueryDef("sample_balanced_class",
      (s, dir) => {
        val emb = Tables.read(s, dir, "embeddings")
          .select(col("vec_id"), col("label"))
        val c = emb.groupBy("label").agg(count(lit(1)).as("n_total"))
        val m = c.agg(min(col("n_total")).as("m"))
        val w = Window.partitionBy("label")
          .orderBy(GraftFunctions.hash64(concat(lit("bal|"),
            col("vec_id").cast("string"))), col("vec_id"))
        emb.withColumn("rn", row_number().over(w))
          .crossJoin(broadcast(m))
          .filter(col("rn") <= col("m"))
          .groupBy(col("label").cast("long").as("label"))
          .agg(count(lit(1)).as("n_kept"),
            sum(col("vec_id")).cast("long").as("id_checksum"))
          .join(c.select(col("label").cast("long").as("label"),
            col("n_total")), "label")
          .select(col("label"), col("n_total"), col("n_kept"),
            col("id_checksum"))
          .orderBy("label")
      },
      Some(s"""WITH c AS (SELECT label, count(*) AS n_total
              |  FROM embeddings GROUP BY 1),
              |m AS (SELECT min(n_total) AS m FROM c),
              |r AS (SELECT label, vec_id,
              |    row_number() OVER (PARTITION BY label
              |      ORDER BY ${Sql.hash64("'bal|' || CAST(vec_id AS VARCHAR)")},
              |        vec_id) AS rn
              |  FROM embeddings),
              |kept AS (SELECT label, vec_id FROM r CROSS JOIN m
              |  WHERE rn <= m.m)
              |SELECT CAST(k.label AS BIGINT) AS label, c.n_total,
              |  count(*) AS n_kept, CAST(sum(k.vec_id) AS BIGINT)
              |    AS id_checksum
              |FROM kept k JOIN c ON k.label = c.label
              |GROUP BY 1, 2 ORDER BY label""".stripMargin)),

    // Population stability index — the scorecard-industry drift metric
    // complementing the KS (unbinned) and JS (entropy) detectors: the
    // CURRENT window binned by the REFERENCE window's fixed equal-width
    // grid, per-bin (p−q)·ln(p/q) contributions. Equal-width edges (from
    // exact min/max doubles) instead of quantile edges, so bin assignment
    // is the identical IEEE division in both engines; +1 Laplace keeps
    // every count an exact integer and the log finite. Two map-side
    // passes (range, then 10-bin histogram) — scan-bound at 100 TB.
    QueryDef("profile_psi",
      (s, dir) => {
        val ev = Tables.read(s, dir, "events")
          .filter(col("event_type") === "view")
        val minDay = ev.agg(min(to_date(col("ts"))).as("d0"))
        val split = ev.crossJoin(broadcast(minDay))
          .select(col("value"),
            (to_date(col("ts")) < date_add(col("d0"), 15)).as("is_ref"))
        val rng = split.filter(col("is_ref"))
          .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
        // zero-width guard: a constant reference window has hi == lo,
        // where Spark's 0/0 is NULL but DuckDB's is NaN — nullif makes
        // the division NULL in both, and both engines' null-skipping
        // least() then lands every row in bin 9 identically
        val c = split.crossJoin(broadcast(rng))
          .filter(col("value") >= col("lo") && col("value") <= col("hi"))
          .select(least(floor((col("value") - col("lo")) /
            nullif((col("hi") - col("lo")) / 10, lit(0.0))), lit(9.0))
            .cast("long").as("bin"), col("is_ref"))
          .groupBy("bin")
          .agg((lit(1) + sum(when(col("is_ref"), 1).otherwise(0)))
            .as("n_ref"),
            (lit(1) + sum(when(col("is_ref"), 0).otherwise(1)))
              .as("n_cur"))
        val t = c.agg(sum(col("n_ref")).cast("double").as("tr"),
          sum(col("n_cur")).cast("double").as("tc"))
        c.crossJoin(broadcast(t))
          .select(col("bin"), col("n_ref").cast("long").as("n_ref"),
            col("n_cur").cast("long").as("n_cur"),
            round((col("n_ref") / col("tr") - col("n_cur") / col("tc")) *
              log((col("n_ref") / col("tr")) / (col("n_cur") / col("tc"))),
              6).as("psi_term"))
          .orderBy("bin")
      },
      Some("""WITH split AS (SELECT value,
             |    CAST(ts AS DATE) <
             |      (SELECT min(CAST(ts AS DATE)) FROM events
             |       WHERE event_type = 'view') + 15 AS is_ref
             |  FROM events WHERE event_type = 'view'),
             |rng AS (SELECT min(value) AS lo, max(value) AS hi
             |  FROM split WHERE is_ref),
             |b AS (SELECT CAST(least(
             |      floor((value - rng.lo) / nullif((rng.hi - rng.lo) / 10, 0)),
             |      9) AS BIGINT) AS bin, is_ref
             |  FROM split CROSS JOIN rng
             |  WHERE value >= rng.lo AND value <= rng.hi),
             |c AS (SELECT bin,
             |    1 + CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_ref,
             |    1 + CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END)
             |      AS BIGINT) AS n_cur
             |  FROM b GROUP BY 1),
             |t AS (SELECT CAST(sum(n_ref) AS DOUBLE) AS tr,
             |             CAST(sum(n_cur) AS DOUBLE) AS tc FROM c)
             |SELECT bin, CAST(n_ref AS BIGINT) AS n_ref,
             |  CAST(n_cur AS BIGINT) AS n_cur,
             |  round((n_ref / t.tr - n_cur / t.tc) *
             |    ln((n_ref / t.tr) / (n_cur / t.tc)), 6) AS psi_term
             |FROM c CROSS JOIN t ORDER BY bin""".stripMargin)),

    // Leakage-safe GROUP holdout: the split key is the USER's hash, so no
    // user's events straddle train/test — the split row-level sampling
    // (sample_split) cannot provide for user-correlated data. Pure
    // map-side tag + one combinable aggregate.
    QueryDef("sample_group_holdout",
      (s, dir) => Tables.read(s, dir, "events")
        .select(col("user_id"), col("value"),
          when(pmod(GraftFunctions.hash64(concat(lit("gh|"),
            col("user_id").cast("string"))), lit(10L)) < 8, "train")
            .otherwise("test").as("split"))
        .groupBy("split")
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"),
          // decimal-sum THEN scale (the value_micro convention): a per-row
          // double→long cast truncates in Spark but rounds in DuckDB
          (sum(col("value").cast("decimal(18,6)")) * 1000000).cast("long")
            .as("value_micro"))
        .orderBy("split"),
      Some(s"""WITH tagged AS (SELECT user_id, value,
              |    CASE WHEN ${Sql.hash64("'gh|' || CAST(user_id AS VARCHAR)")} % 10 < 8
              |      THEN 'train' ELSE 'test' END AS split
              |  FROM events)
              |SELECT split, count(DISTINCT user_id) AS n_users,
              |  count(*) AS n_events,
              |  CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT)
              |    AS value_micro
              |FROM tagged GROUP BY 1 ORDER BY split""".stripMargin)),

    // Spatial radius self-join by grid bucketing — the spatial member of
    // the blocked-join family (record linkage blocks on a key prefix,
    // set-similarity on rare shingles; this blocks on grid cells): points
    // on an integer grid, each LEFT row exploded into its 3×3 neighbor
    // cells and hash-joined against the RIGHT row's home cell — every
    // within-radius pair shares one (neighbor, home) cell combination
    // exactly once, so candidates are bounded by 9 × density × N, never
    // N². The join keys (cell ids) are the natural 100 TB co-location
    // keys. ALL-INTEGER math: coordinates, squared distances, and bucket
    // ids are exact BIGINTs — zero float hazard. The coordinate DOMAIN
    // scales with √n (D = 1000·⌈√(n/1500)⌉, mirrored from the same count
    // in both engines) so point density — and with it the result size and
    // candidate volume — stays CONSTANT as the corpus grows: the
    // adaptive-LSH-bits discipline applied to space (a fixed domain went
    // quadratic: 1.2 → 10.2 → 41.1 s across three decades; adaptive is
    // linear). Coordinates derive from key hashes (the corpus has no
    // native geo columns).
    QueryDef("join_spatial_grid",
      (s, dir) => {
        val cust = Tables.read(s, dir, "customer")
        val dom = cust.agg((lit(1000L) *
          ceil(sqrt(count(lit(1)) / lit(1500.0))).cast("long")).as("d"))
        def coord(tag: String) = pmod(GraftFunctions.hash64(
          concat(lit(tag), col("c_custkey").cast("string"))), col("d"))
        val p = cust.crossJoin(broadcast(dom))
          .select(col("c_custkey").as("id"),
            coord("x|").as("x"), coord("y|").as("y"))
        val a9 = p
          .select(col("id"), col("x"), col("y"),
            explode(array(lit(-1L), lit(0L), lit(1L))).as("dx"))
          .select(col("id"), col("x"), col("y"),
            (expr("x div 25") + col("dx")).as("cx"),
            explode(array(lit(-1L), lit(0L), lit(1L))).as("dy"))
          .select(col("id").as("a_id"), col("x").as("ax"),
            col("y").as("ay"), col("cx"),
            (expr("y div 25") + col("dy")).as("cy"))
        val b = p.select(col("id").as("b_id"), col("x").as("bx"),
          col("y").as("by"), expr("x div 25").as("bcx"),
          expr("y div 25").as("bcy"))
        a9.join(b, col("cx") === col("bcx") && col("cy") === col("bcy") &&
            col("a_id") < col("b_id"))
          .select(((col("ax") - col("bx")) * (col("ax") - col("bx")) +
            (col("ay") - col("by")) * (col("ay") - col("by"))).as("d2"))
          .filter(col("d2") <= 625)
          .groupBy(expr("d2 div 125").as("d2_bucket"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("d2")).cast("long").as("sum_d2"))
          .orderBy("d2_bucket")
      },
      Some(s"""WITH dom AS (SELECT 1000 * CAST(ceil(sqrt(count(*) / 1500.0))
              |    AS BIGINT) AS d FROM customer),
              |p AS (SELECT c_custkey AS id,
              |    ${Sql.hash64("'x|' || CAST(c_custkey AS VARCHAR)")} % dom.d AS x,
              |    ${Sql.hash64("'y|' || CAST(c_custkey AS VARCHAR)")} % dom.d AS y
              |  FROM customer CROSS JOIN dom),
              |offs AS (SELECT unnest([-1, 0, 1]) AS dx),
              |a9 AS (SELECT p.id, p.x, p.y, (p.x // 25) + o1.dx AS cx,
              |    (p.y // 25) + o2.dx AS cy
              |  FROM p, offs o1, offs o2),
              |cand AS (SELECT a.id AS a_id, b.id AS b_id,
              |    (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
              |      AS d2
              |  FROM a9 a JOIN p b
              |    ON a.cx = b.x // 25 AND a.cy = b.y // 25
              |      AND a.id < b.id),
              |m AS (SELECT d2 FROM cand WHERE d2 <= 625)
              |SELECT CAST(d2 // 125 AS BIGINT) AS d2_bucket,
              |  count(*) AS n_pairs, CAST(sum(d2) AS BIGINT) AS sum_d2
              |FROM m GROUP BY 1 ORDER BY d2_bucket""".stripMargin)),

    // Recency-weighted engagement score — the feature-store staple
    // (recent activity outweighs old) with an EXACT decay: weight =
    // 2^−age_weeks expressed in 256ths, so every term is an integer
    // (vm · 256≫k) and the per-user sum is order-independent — no
    // pow()/exp() parity surface at all. Two map-side-combinable
    // aggregates on the user key; the decay lattice is (user × ≤9
    // week-buckets)-bounded.
    QueryDef("agg_decay_engagement",
      (s, dir) => {
        val ev = Tables.read(s, dir, "events")
        val g = ev.agg(max(to_date(col("ts"))).as("gd"))
        val sk = ev.crossJoin(broadcast(g))
          .select(col("user_id"),
            expr("datediff(gd, CAST(ts AS DATE)) div 7").as("k"),
            col("value"))
          .groupBy("user_id", "k")
          .agg((sum(col("value").cast("decimal(18,6)")) * 1000000)
            .cast("long").as("vm"))
        sk.select(col("user_id"), (col("vm") *
            expr("256 div (1 << CAST(least(k, 8) AS INT))")).as("term"))
          .groupBy("user_id")
          .agg(sum(col("term")).cast("long").as("decayed_q256"))
          .orderBy(desc("decayed_q256"), col("user_id")).limit(20)
      },
      Some("""WITH g AS (SELECT max(CAST(ts AS DATE)) AS gd FROM events),
             |w AS (SELECT user_id,
             |    date_diff('day', CAST(ts AS DATE), g.gd) // 7 AS k,
             |    value
             |  FROM events CROSS JOIN g),
             |s AS (SELECT user_id, k,
             |    CAST(sum(CAST(value AS DECIMAL(18,6))) * 1000000
             |      AS BIGINT) AS vm
             |  FROM w GROUP BY 1, 2)
             |SELECT user_id,
             |  CAST(sum(vm * (256 // (1 << CAST(least(k, 8) AS INTEGER))))
             |    AS BIGINT) AS decayed_q256
             |FROM s GROUP BY 1
             |ORDER BY decayed_q256 DESC, user_id LIMIT 20""".stripMargin)),

    // Gaps-and-islands: consecutive-DAY activity streaks per user (the
    // calendar-streak engagement metric; distinct from the gap-timeout
    // sessionizers — islands are day - row_number groups, pure integer/
    // date arithmetic). One user-keyed window over the DISTINCT
    // (user, day) frame (≤ users × days rows), then two combinable
    // aggregates; output is the longest-streak histogram.
    QueryDef("window_streaks",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("day")
        val d = Tables.read(s, dir, "events")
          .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val islands = d.withColumn("rn", row_number().over(w))
          .select(col("user_id"),
            date_sub(col("day"), col("rn")).as("island"))
          .groupBy("user_id", "island").agg(count(lit(1)).as("len"))
        islands.groupBy("user_id")
          .agg(max(col("len")).as("longest"),
            count(lit(1)).as("n_islands"), sum(col("len")).as("active"))
          .groupBy(col("longest").cast("long").as("longest_streak"))
          .agg(count(lit(1)).as("n_users"),
            sum(col("n_islands")).cast("long").as("n_islands"),
            sum(col("active")).cast("long").as("active_days"))
          .orderBy("longest_streak")
      },
      Some("""WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
             |  FROM events),
             |r AS (SELECT user_id, day,
             |    row_number() OVER (PARTITION BY user_id ORDER BY day)
             |      AS rn
             |  FROM d),
             |i AS (SELECT user_id, day - CAST(rn AS INTEGER) AS island,
             |    count(*) AS len
             |  FROM r GROUP BY 1, 2),
             |per_u AS (SELECT user_id, max(len) AS longest,
             |    count(*) AS n_islands, CAST(sum(len) AS BIGINT)
             |      AS active_days
             |  FROM i GROUP BY 1)
             |SELECT CAST(longest AS BIGINT) AS longest_streak,
             |  count(*) AS n_users,
             |  CAST(sum(n_islands) AS BIGINT) AS n_islands,
             |  CAST(sum(active_days) AS BIGINT) AS active_days
             |FROM per_u GROUP BY 1 ORDER BY longest_streak""".stripMargin))
  )
}
