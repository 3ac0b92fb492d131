package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times every declared query at
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Methodology: one untimed warmup pass over all queries (JIT, codegen
  * cache, parquet footer cache, the one-time REST-page fixture), then
  * SPARK_GRAFT_BENCH_ITERS (default 3) measured passes. Per-query time is
  * the MEDIAN across passes and "value" is the sum of medians, so
  * round-over-round comparisons measure the steady state, not whichever
  * pass paid first-run codegen. The per-pass totals are included under
  * "totals" for dispersion. A query that throws in any pass is listed
  * under "failed" ("n_failed" on the compact line) and counted in no
  * time, total or matrix.
  *
  * Self-healing (round-12 verdict #1): if pass-to-pass spread exceeds
  * SPARK_GRAFT_BENCH_SPREAD_RETRY_PCT (default 20%), the pass farthest
  * from the median pass total (symmetric criterion — advice r13) is
  * presumed host-contaminated and re-measured — up to
  * SPARK_GRAFT_BENCH_MAX_EXTRA_PASSES (default 2) extra passes, keeping
  * the `iters` passes closest to consensus. Dropped pass totals are
  * reported under "dropped_totals" and the 20 heaviest queries get their
  * per-kept-pass times under "per_pass", so a noisy window is
  * attributable from the artifact alone.
  *
  * Exhaustion escape hatch (round-13 verdict #3): if retries exhaust
  * with spread still above threshold, the headline "value" escalates to
  * per-query medians over ALL measured passes (kept + dropped) —
  * "healing":"exhausted_all_passes" marks it. Both estimators are always
  * reported (value_kept_passes / value_all_passes), the artifact carries
  * in-line canary normalization (canary_ratio = canary median over its
  * recorded clean-host rate; normalized_per_query = raw rate / ratio),
  * and the sidecar holds full per-pass per-query matrices
  * (passes_kept / passes_dropped) so tools/bench_headline.py can
  * recompute any estimator without builder narrative.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Default to the host's cores: a 4-thread default quietly produced
    // non-comparable totals whenever the env var was forgotten (the
    // BASELINE.md round-11 footgun — at sf0.1 overhead-bound queries run
    // FASTER at 4 threads while the heavy shuffles run 2× slower).
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Optional local-iteration filter (the scaling study in PLANS.md
    // times just the heavy tail); the driver leaves this unset and
    // always benches the full surface.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }

    // the queries that threw in any pass, warmup included
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def onePass(): Map[String, Double] = {
      val (times, thrown) = timePass(
        queries.toSeq.map { case (name, fn) =>
          name -> (() => fn(spark, sfDir).count(): Unit) },
        // Drop this query's localCheckpoint blocks before the next query:
        // queries are self-contained (no cross-query cache reuse), but the
        // ContextCleaner reclaims dereferenced blocks asynchronously and
        // falls behind on a big-SF full-surface pass — measured 10-40×
        // inflation of late queries at sf1 from eviction/GC pressure as
        // ~199 queries' pinned blocks accumulated in one JVM. Explicit
        // unpersist keeps every query's measurement independent of its
        // position in the pass. (Not charged to the query's time.)
        () => spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false)))
      failed ++= thrown
      times
    }
    // the queries that have not thrown so far, and a pass's total over them
    def ok: Seq[String] = queries.keys.toSeq.filterNot(failed)
    def passTotal(p: Map[String, Double]): Double = ok.map(p).sum

    onePass() // warmup: codegen + caches, not charged to anyone

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // same formula as the reported spread_pct (pass-total range over the
    // sum of per-query medians) so the retry trigger and the artifact
    // number can never disagree about whether a window was noisy
    def spreadOf(ps: Seq[Map[String, Double]]): Double = {
      val ts = ps.map(passTotal)
      val tot = ok
        .map(n => median(ps.map(_(n)))).sum
      if (ts.size < 2 || tot == 0) 0.0 else (ts.max - ts.min) / tot * 100
    }
    // Self-healing measurement (round-12 verdict: the official artifact
    // ran in a 206%-spread host window and the raw total landed AT the
    // 2× gate): when pass-to-pass spread exceeds the threshold, the
    // outlier pass is presumed host-contaminated — re-run (bounded: max
    // 2 extra passes) and keep the `iters` passes closest to consensus.
    // The drop criterion is SYMMETRIC (advice r13: always dropping the
    // max pass biases the healed total downward): the dropped pass is
    // the one FARTHEST from the median pass total, whichever side it
    // sits on. Every pass that ran, kept or dropped, is reported, so
    // noise is attributable from the artifact alone rather than by
    // canary inference.
    val spreadRetryPct = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_SPREAD_RETRY_PCT", "20").toDouble
    val maxExtra = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_MAX_EXTRA_PASSES", "2").toInt
    var kept = (1 to iters).map(_ => onePass()).toVector
    var dropped = Vector.empty[Map[String, Double]]
    var extra = 0
    while (spreadOf(kept) > spreadRetryPct && extra < maxExtra) {
      extra += 1
      val fresh = onePass()
      val all = kept :+ fresh
      val medTotal = median(all.map(passTotal))
      val worst = all.maxBy(p => math.abs(passTotal(p) - medTotal))
      dropped :+= worst
      kept = {
        val i = all.indexOf(worst)
        all.patch(i, Nil, 1)
      }
    }
    val names = ok
    // Exhaustion escape hatch (round-13 verdict #3): bounded retries
    // cannot outrun a CONTINUOUSLY degraded host — when healing exhausts
    // with the kept window still above threshold, per-query medians over
    // ALL measured passes (kept + dropped) are the more robust estimator
    // (more samples beat sample selection under sustained noise), so the
    // headline escalates to them. Both estimators are always reported
    // (value_kept_passes / value_all_passes), so the healing effect is
    // quantifiable from the artifact alone (advice r13).
    val exhausted =
      spreadOf(kept) > spreadRetryPct && extra >= maxExtra
    val passes = kept
    val allPasses = kept ++ dropped
    val medKept = names.map(n => n -> median(passes.map(_(n)))).toMap
    val medAll = names.map(n => n -> median(allPasses.map(_(n)))).toMap
    val med = if (exhausted) medAll else medKept
    // per-query times rounded to ms: round-over-round comparison never
    // needs sub-ms precision and the full line shrinks ~40%
    def ms3(v: Double): String = f"$v%.3f"
    val qs = names.map(n => s"\"$n\":" + ms3(med(n))).mkString("{", ",", "}")
    val total = med.values.sum
    val passTotals = passes.map(passTotal)
    val totals = passTotals.map(t => f"$t%.3f").mkString("[", ",", "]")
    // noise indicator: pass-to-pass spread relative to the median-of-sums
    // headline. Shared-host jitter shows up here, not in "value" (per-query
    // medians are stable) — a spread past ~15% marks the RUN as noisy, not
    // the engine as slower.
    val spreadPct =
      if (passTotals.size < 2 || total == 0) 0.0
      else (passTotals.max - passTotals.min) / total * 100
    val droppedTotals = dropped.map(d => f"${passTotal(d)}%.3f")
      .mkString("[", ",", "]")
    // per-pass per-query sidecar for the 20 heaviest queries (by median):
    // the rows round-over-round noise adjudication actually needs — a
    // single disturbed pass shows up as one outlier column here
    val top20 = names.sortBy(-med(_)).take(20)
    val perPass = top20.map(n => s"\"$n\":" +
        passes.map(p => ms3(p(n))).mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    // Both estimators, always (advice r13: the healing effect must be
    // quantifiable): sum of per-query medians over the kept window and
    // over every pass that ran. "value" is medAll when healing exhausted
    // above threshold (verdict r13 #3), medKept otherwise.
    val valueKept = medKept.values.sum
    val valueAll = medAll.values.sum
    // In-artifact canary normalization (verdict r13 #3): the canary's
    // recorded clean-host steady state turns a degraded-window total
    // into a host-corrected per-query rate without builder narrative.
    // Defaults document the sf0.1 record (BASELINE.md: tpch_q1 0.248 s).
    val canary = sys.env.getOrElse("SPARK_GRAFT_BENCH_CANARY", "tpch_q1")
    val canaryRecord = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_CANARY_RECORD_SEC", "0.248").toDouble
    val canaryFields = med.get(canary).filter(_ > 0).map { c =>
      val ratio = c / canaryRecord
      val norm = if (ratio > 0) total / names.size / ratio
                 else total / names.size
      f""","canary":"$canary","canary_sec":${ms3(c)},"canary_record_sec":$canaryRecord,"canary_ratio":$ratio%.2f,"raw_per_query":${ms3(total / names.size)},"normalized_per_query":${ms3(norm)}"""
    }.getOrElse("")
    val healedField =
      if (exhausted) ""","healing":"exhausted_all_passes""""
      else if (extra > 0) ""","healing":"kept_window""""
      else ""
    // full per-pass per-query matrices (sidecar-only via fullLine): what
    // tools/bench_headline.py recomputes the headline from — every
    // measured pass, kept and dropped, for every query
    def passesJson(ps: Seq[Map[String, Double]]): String =
      ps.map(p => names.map(n => s"\"$n\":" + ms3(p(n)))
        .mkString("{", ",", "}")).mkString("[", ",", "]")
    val failedJson = failed.map(n => s"\"$n\"").mkString("[", ",", "]")
    val fullLine = f"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir","iters":$iters,"totals":$totals,"spread_pct":$spreadPct%.1f,"extra_passes":$extra,"dropped_totals":$droppedTotals,"value_kept_passes":${ms3(valueKept)},"value_all_passes":${ms3(valueAll)}$healedField$canaryFields,"per_pass":$perPass,"passes_kept":${passesJson(passes)},"passes_dropped":${passesJson(dropped)}}"""
    // The contract line first (full stdout captures get everything) …
    println(fullLine)
    // … then two artifact-capture fixes for the driver's 2000-char
    // stdout-TAIL window (BENCH_r07.json preserved 63 of 214 per-query
    // rows and has parsed:null in every round — the full line has never
    // fit):
    //  1. sidecar: the COMPLETE json written to a file in the repo, so
    //     every per-query number survives as a committed artifact;
    //  2. a compact LAST line, sized to sit entirely inside the tail
    //     window even after the runner's epilogue: headline fields +
    //     as many heaviest queries as fit — the rows round-over-round
    //     comparisons actually read — plus the sidecar pointer.
    // Partial runs default to a SCRATCH sidecar: round-9 advice — a
    // 2-query local iteration run clobbered the committed full-suite
    // record in BENCH_FULL.json. Only an unfiltered pass may write the
    // full-record default.
    val defaultSidecar =
      if (only.isDefined) "BENCH_PARTIAL.json" else "BENCH_FULL.json"
    val sidecar = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultSidecar)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sidecar), fullLine + "\n")
    catch { case e: Exception =>
      System.err.println(s"[bench] sidecar write failed: ${e.getMessage}") }
    val budget = 1700
    val heavy = names.sortBy(-med(_))
    val head = f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir","iters":$iters,"n_queries":${names.size},"n_failed":${failed.size},"totals":$totals,"spread_pct":$spreadPct%.1f,"extra_passes":$extra,"dropped_totals":$droppedTotals,"value_kept_passes":${ms3(valueKept)},"value_all_passes":${ms3(valueAll)}$healedField$canaryFields,"full":"$sidecar","top":{"""
    val sb = new StringBuilder(head)
    var first = true
    for (n <- heavy) {
      val piece = (if (first) "" else ",") + s"\"$n\":" + ms3(med(n))
      if (sb.length + piece.length < budget) { sb.append(piece); first = false }
    }
    sb.append("}}")
    println(sb.toString)
    spark.stop()
  }

  /** One timed pass: seconds for each query that returned, in order, and
    * the names of those that threw — a thrown query is a failure, never a
    * time. `afterEach` runs after every query, outside its time. */
  private[graft] def timePass(queries: Seq[(String, () => Unit)],
      afterEach: () => Unit = () => ()): (Map[String, Double], Seq[String]) = {
    val times = Map.newBuilder[String, Double]
    val thrown = Seq.newBuilder[String]
    for ((name, run) <- queries) {
      val t0 = System.nanoTime()
      try {
        run()
        times += name -> (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => thrown += name }
      afterEach()
    }
    (times.result(), thrown.result())
  }
}
