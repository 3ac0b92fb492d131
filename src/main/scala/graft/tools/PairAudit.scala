package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{GraftFunctions, Tables}
import graft.ops.Dedup

/** Candidate-PAIR audit for the self-join operators — the companion to
  * [[ShuffleAudit]]'s byte rows. Round 8/10 taught (three separate times:
  * the embedding compute quadratic, the AQE-coalesced linkage block, the
  * lpad-collapsed blocks) that a self-join can go quadratic while every
  * byte counter stays flat: the explosion happens INSIDE the join, after
  * the exchange. The quantity that cannot lie is the number of candidate
  * pairs the verify stage scores. This tool counts exactly that, per
  * operator, at a given SF dir; run it at two decades and a blocking
  * scheme is linear iff the pair count is.
  *
  * Usage: PairAudit [sfDir] — one JSON line per operator:
  * {"op":...,"pairs":N,"sec":...}. `pairs` is the DISTINCT candidate
  * count entering the exact verify (post-band/block dedup, pre-filter) —
  * the per-pair work actually paid.
  */
object PairAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftFunctions.ensureRegistered(spark)

    def docs = Tables.read(spark, sfDir, "documents")

    // join_fuzzy's deletion-key candidates — mirrors
    // queries/AnalyticsQueries.scala `join_fuzzy` (SymSpell blocking;
    // candidates = distinct key-join quads entering the levenshtein)
    def fuzzyCandidates: DataFrame = {
      def delKeys(c: Column): Column = array_distinct(concat(
        array(c),
        transform(sequence(lit(1), length(c)),
          i => concat(c.substr(lit(1), i - 1), c.substr(i + 1, length(c))))))
      val cust = Tables.read(spark, sfDir, "customer")
        .select("c_custkey", "c_name")
      val probes = cust.filter(pmod(col("c_custkey"), lit(19)) === 0)
        .select(col("c_custkey").as("probe_id"),
          concat(expr("substring(c_name, 1, length(c_name) - 1)"),
            lit("X")).as("probe_name"))
      val pk = probes.select(col("probe_id"),
        explode(delKeys(col("probe_name"))).as("k"))
      val ck = cust.select(col("c_custkey"),
        explode(delKeys(col("c_name"))).as("k"))
      pk.join(ck, "k").select("probe_id", "c_custkey").distinct()
    }

    // join_interval_overlap's candidates = per-user view×purchase pairs
    // (the equi-join's output before the overlap residual) — computable
    // exactly from the per-user counts, no join needed
    def intervalPairs: Long = Tables.read(spark, sfDir, "events")
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy("user_id")
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L))
        .as("nv"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("np"))
      .agg(sum(col("nv") * col("np"))).head().getLong(0)

    // the keyed-name CONTROL for join_fuzzy: ScaleGen replicates c_name
    // verbatim across replicas (unlike documents' token rename), so the
    // scaled-leg candidate count grows ∝ factor² through no fault of the
    // blocking scheme. Deriving a unique name from the (always-unique)
    // key — the join_record_linkage round-10 fix — shows the operator's
    // own scaling on a density-constant corpus.
    def fuzzyKeyedCandidates: DataFrame = {
      def delKeys(c: Column): Column = array_distinct(concat(
        array(c),
        transform(sequence(lit(1), length(c)),
          i => concat(c.substr(lit(1), i - 1), c.substr(i + 1, length(c))))))
      val cust = Tables.read(spark, sfDir, "customer")
        .select(col("c_custkey"),
          concat(lit("Customer#"), lpad(col("c_custkey").cast("string"),
            12, "0")).as("c_name"))
      val probes = cust.filter(pmod(col("c_custkey"), lit(19)) === 0)
        .select(col("c_custkey").as("probe_id"),
          concat(expr("substring(c_name, 1, length(c_name) - 1)"),
            lit("X")).as("probe_name"))
      val pk = probes.select(col("probe_id"),
        explode(delKeys(col("probe_name"))).as("k"))
      val ck = cust.select(col("c_custkey"),
        explode(delKeys(col("c_name"))).as("k"))
      pk.join(ck, "k").select("probe_id", "c_custkey").distinct()
    }

    // ScaleGen (shift mode) puts replica r at key + r·10⁸, so the replica
    // of any id is floor(id / 10⁸): splitting candidates into within- vs
    // cross-replica attributes superlinear growth — within-replica excess
    // means the generator raised in-corpus duplicate density, cross-
    // replica means the blocking key itself couples replicas. Dense-mode
    // datasets (key·factor + r) pass `dense:<factor>` as the 2nd arg and
    // the replica becomes id mod factor.
    val denseFactor = args.lift(1)
      .filter(_.startsWith("dense:")).map(_.stripPrefix("dense:").toLong)
    def replicaOf(c: Column): Column = denseFactor match {
      case Some(f) => pmod(c, lit(f))
      case None => floor(c / 1e8)
    }
    def breakdown(cand: DataFrame, a: String, b: String): (Long, Long) = {
      val r = cand.agg(count(lit(1)),
        sum(when(replicaOf(col(a)) =!= replicaOf(col(b)), 1L)
          .otherwise(0L))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    val ops: Seq[(String, () => (Long, Long))] = Seq(
      "dedup_simhash" ->
        (() => breakdown(Dedup.simhashCandidates(docs,
          Dedup.simhashNumBlocks(docs.count())), "doc_a", "doc_b")),
      "dedup_ngram_jaccard+containment" ->
        (() => breakdown(Dedup.lshCandidates(docs), "doc_a", "doc_b")),
      "join_fuzzy" ->
        (() => breakdown(fuzzyCandidates, "probe_id", "c_custkey")),
      "join_fuzzy_keyed_control" ->
        (() => breakdown(fuzzyKeyedCandidates, "probe_id", "c_custkey")),
      "join_interval_overlap" -> (() => (intervalPairs, 0L)))

    ops.foreach { case (name, f) =>
      val t0 = System.nanoTime()
      val (n, cross) = f()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"op":"$name","pairs":$n,"cross_replica":$cross,""" +
        f""""sec":$sec%.2f,"sf":"$sfDir"}""")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
