package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftExtensions, SparkEntry}
import graft.pipeline.Pipeline

/** Closed-loop benchmark client: one JVM, one operation at a time, each
  * sent only after the previous one completed.
  *
  * It drives the engine only through its public entry points:
  * `SparkEntry.queries` (each `QueryDef.fn` closure) for the registry
  * workloads and `Pipeline.run` for the ETL backfill. It writes the raw
  * measurements (and, when traced, the trace) as one JSON file; the
  * Python front end (`run.py`) checks outputs and reduces them to metrics.
  *
  * {{{
  * Harness --mode registry|etl|selftest --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --out FILE --cores N
  *   [--members a,b,..] [--partition a,b,..|c,d,..]
  *   [--verify DIR] [--skip-verify a,b,..]
  *   [--months YYYY-MM-01,..] [--warm-month YYYY-MM-01]
  * }}}
  */
object Harness {

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    def get(k: String): Option[String] = kv.get(k)
    def list(k: String): Seq[String] =
      kv.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
  }

  def parse(argv: Seq[String]): Args = {
    require(argv.size % 2 == 0, s"arguments come in --key value pairs: $argv")
    Args(argv.grouped(2).map { case Seq(k, v) =>
      require(k.startsWith("--"), s"expected --key, got $k")
      k.drop(2) -> v
    }.toMap)
  }

  /** The timed action: executes the whole plan and discards the rows.
    * Unlike `count()`, the `noop` sink keeps every projected column, so
    * Catalyst cannot prune the work away.
    */
  def execute(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Result of one operation: wall seconds or the error it threw, and the
    * host's busy and stolen CPU time over the same interval.
    */
  final case class Op(name: String, pass: Int, seconds: Double, host: HostTime,
      error: Option[String])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toIndexedSeq)
    val cores = a("cores").toInt
    val traced = a.get("trace").contains("1")
    val work = new File(a("work"))
    work.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, traced, a.get("run-id").getOrElse("run"))
    val out = new StringBuilder("{")
    def field(k: String, v: String): Unit = {
      if (out.length > 1) out += ','
      out ++= Json.str(k) + ":" + v
    }
    try a("mode") match {
      case "registry" => registry(spark, tracer, a, field)
      case "etl" => etl(spark, tracer, a, field)
      case "selftest" => selftest(spark, a, field)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    } finally tracer.close()
    field("peak_rss_mb", Json.num(vmHwmMb()))
    field("heap_peak_mb", Json.num(heapPeakMb()))
    if (traced) field("trace", tracer.toJson)
    out += '}'
    Files.writeString(Paths.get(a("out")), out.toString)
    spark.stop()
  }

  // ---------------------------------------------------------------- registry

  private def registry(spark: SparkSession, tr: Tracer, a: Args,
      field: (String, String) => Unit): Unit = {
    val all = SparkEntry.queries
    // the declared registry must be exactly the union of the registry
    // workloads' member lists, so a new query cannot go unmeasured
    val listed = a("partition").split("[|,]").map(_.trim).filter(_.nonEmpty).toSeq
    val dup = listed.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
    val missing = all.keySet -- listed
    val unknown = listed.toSet -- all.keySet
    require(dup.isEmpty && missing.isEmpty && unknown.isEmpty,
      s"registry workloads do not partition SparkEntry.queries: " +
        s"unlisted=${missing.toSeq.sorted} unknown=${unknown.toSeq.sorted} " +
        s"twice=${dup.toSeq.sorted}")
    val members = a.list("members")
    members.foreach(m => require(all.contains(m), s"unknown query $m"))
    val dir = a("data")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val verify = a.get("verify")
    // results of these are not compared with the oracle (too slow in DuckDB)
    val skipVerify = a.list("skip-verify").toSet
    val fixtures = new FixtureWatch(dir)

    def run(name: String, pass: Int, action: DataFrame => Unit): Op = {
      val fn = all(name)
      val h0 = HostTime.now()
      val t0 = System.nanoTime()
      val err = try {
        tr.span("queries", name) {
          val df = tr.span("construct", name)(fn(spark, dir))
          tr.span("execute", name)(action(df))
          if (tr.enabled)
            tr.count("persisted_rdds", spark.sparkContext.getPersistentRDDs.size)
        }
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val dt = (System.nanoTime() - t0) / 1e9
      val host = HostTime.now() - h0
      // queries are self-contained: release this query's cached and
      // checkpointed blocks and its garbage before the next one starts, so
      // a query's time does not depend on which query ran before it (not
      // charged to either)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      Op(name, pass, dt, host, err)
    }

    // set-up: the untimed pass, which builds every persisted fixture and
    // writes the results the oracle check reads
    val warm = tr.span("setup", "warm") {
      new Random(seed).shuffle(members)
        .map { n =>
          run(n, 0, df => verify.filterNot(_ => skipVerify(n)) match {
            case Some(v) =>
              df.coalesce(1).write.mode("overwrite").parquet(s"$v/$n")
            case None => execute(df)
          })
        }
    }
    verify.foreach { v =>
      val oracle = SparkEntry.oracleSql
        .filter { case (k, _) => members.contains(k) && !skipVerify(k) }
      Files.writeString(Paths.get(v, "oracle_sql.json"),
        oracle.toSeq.sortBy(_._1).map { case (k, q) => s"${Json.str(k)}:${Json.str(q)}" }
          .mkString("{", ",", "}"))
    }
    val fixturesBeforeTiming = fixtures.snapshot()
    val hostAtTiming = HostTime.now()
    val timingStartMs = System.currentTimeMillis()
    val gc0 = gcMs()
    tr.drain()

    // timed passes: the seed permutes the order inside each pass; another
    // pass starts only if it is expected to end within the measuring time
    val timed = mutable.ArrayBuffer.empty[Op]
    val tStart = System.nanoTime()
    def elapsed = (System.nanoTime() - tStart) / 1e9
    var pass = 0
    while (pass == 0 || elapsed * (pass + 1) / pass <= seconds) {
      pass += 1
      val order = new Random(seed * 1000003L + pass).shuffle(members)
      tr.span("pass", s"pass$pass") {
        order.foreach(n => timed += run(n, pass, execute))
      }
    }
    val timedWall = (System.nanoTime() - tStart) / 1e9
    val gc1 = gcMs()
    tr.drain()
    field("timing_start_ms", timingStartMs.toString)
    field("host_at_timing", hostAtTiming.json)
    field("timed_wall_s", Json.num(timedWall))
    field("passes", pass.toString)
    field("gc_s", Json.num((gc1 - gc0) / 1e3))
    field("warm", opsJson(warm))
    field("ops", opsJson(timed.toSeq))
    field("fixtures_before_timing", Json.arr(fixturesBeforeTiming.map(Json.str)))
    field("fixtures_after", Json.arr(fixtures.snapshot().map(Json.str)))
  }

  private def opsJson(ops: Seq[Op]): String = Json.arr(ops.map { o =>
    s"""{"name":${Json.str(o.name)},"pass":${o.pass},"s":${Json.num(o.seconds)},""" +
      s""""host":${o.host.json},""" +
      s""""error":${o.error.map(Json.str).getOrElse("null")}}"""
  })

  /** `/tmp/graft_*` fixture directories whose key embeds the data dir. */
  final class FixtureWatch(dataDir: String) {
    private val tag = dataDir.replaceAll("[^0-9a-zA-Z]", "_")
    def snapshot(): Seq[String] =
      Option(new File("/tmp").list()).toSeq.flatten
        .filter(n => n.startsWith("graft_") && n.contains(tag)).sorted
  }

  // --------------------------------------------------------------------- etl

  private def etl(spark: SparkSession, tr: Tracer, a: Args,
      field: (String, String) => Unit): Unit = {
    val dir = a("data")
    val outDir = a("out-dir")
    val months = a.list("months")
    val warmMonth = a("warm-month")
    val fmt = "graft-warehouse"
    // one monthly slice, as the backfill orchestrator cuts them
    def slice(out: String, month: String): Map[String, Long] = {
      val end = java.time.LocalDate.parse(month).plusMonths(1).toString
      Pipeline.run(spark, Pipeline.Config(dir, out, month, end,
        idempotentDims = true, sinkFormat = fmt))
    }
    val dimNames = Seq("dim_part", "dim_supplier", "dim_nation",
      "dim_priority", "dim_segment")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def rows(name: String): Long =
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$outDir/$name"))) 0L
      else Pipeline.table(spark, outDir, name, fmt).count()

    // set-up: one untimed slice into a throwaway directory
    tr.span("setup", "warm")(slice(a("warm-dir"), warmMonth))
    val hostAtTiming = HostTime.now()
    val timingStartMs = System.currentTimeMillis()
    val gc0 = gcMs()
    tr.drain()

    val ops = mutable.ArrayBuffer.empty[Op]
    val counts = mutable.ArrayBuffer.empty[(String, Map[String, Long])]
    val fresh = mutable.ArrayBuffer.empty[(Long, Long)]
    val tStart = System.nanoTime()
    months.zipWithIndex.foreach { case (m, i) =>
      // the dim row-count delta is read outside the slice's span (traced
      // runs only), so it adds no time to the slice
      val before = if (tr.enabled) dimNames.map(rows).sum else 0L
      val h0 = HostTime.now()
      val t0 = System.nanoTime()
      val err = try {
        val c = tr.span("pipeline", s"slice:$m")(slice(outDir, m))
        counts += m -> c
        if (tr.enabled)
          fresh += ((dimNames.map(rows).sum - before,
            dimNames.map(n => c.getOrElse(n, 0L)).sum))
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val dt = (System.nanoTime() - t0) / 1e9
      ops += Op(s"slice:$m", i + 1, dt, HostTime.now() - h0, err)
    }
    val timedWall = (System.nanoTime() - tStart) / 1e9
    val gc1 = gcMs()
    tr.drain()

    // landed state, read back after the run (untimed) for the output checks:
    // rows and distinct natural keys per table, null surrogate keys per fact
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit, sum, when}
    val natural = Seq(
      "dim_part" -> graft.dims.PartDim.naturalCols,
      "dim_supplier" -> graft.dims.SupplierDim.naturalCols,
      "dim_nation" -> graft.dims.NationDim.naturalCols,
      "dim_priority" -> graft.dims.PriorityDim.naturalCols,
      "dim_segment" -> graft.dims.SegmentDim.naturalCols,
      "dim_date" -> Seq("date_key"),
      "dim_time" -> Seq("time_key"))
    val facts = Seq(
      "fact_lineitem" -> Seq("part_key", "supplier_key", "nation_key"),
      "fact_orders" -> Seq("prio_key", "segment_key"),
      "fact_integrated" -> Nil)
    val read = (t: String) => Pipeline.table(spark, outDir, t, fmt)
    val dimStats = natural.map { case (t, ks) =>
      val r = read(t).agg(count(lit(1)), countDistinct(col(ks.head), ks.tail.map(col): _*)).head()
      (t, r.getLong(0), r.getLong(1))
    }
    val factStats = facts.map { case (t, ks) =>
      val unmatched = ks.map(k => when(col(k).isNull, 1).otherwise(0)).reduceOption(_ + _)
        .map(e => sum(when(e > 0, 1L).otherwise(0L))).getOrElse(lit(0L))
      val r = read(t).agg(count(lit(1)), unmatched).head()
      (t, r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val landed = dimStats.map(x => x._1 -> x._2) ++ factStats.map(x => x._1 -> x._2)
    val distinctKeys = dimStats.map(x => x._1 -> x._3)
    val unmatched = factStats.map(_._3).sum

    field("timing_start_ms", timingStartMs.toString)
    field("host_at_timing", hostAtTiming.json)
    field("timed_wall_s", Json.num(timedWall))
    field("gc_s", Json.num((gc1 - gc0) / 1e3))
    field("ops", opsJson(ops.toSeq))
    field("slice_counts", Json.arr(counts.toSeq.map { case (m, c) =>
      s"""{"month":${Json.str(m)},"counts":${Json.obj(c.toSeq.sortBy(_._1).map(
        kv => kv._1 -> kv._2.toDouble))}}""" }))
    field("dim_fresh", Json.arr(fresh.toSeq.map { case (f, b) => s"[$f,$b]" }))
    field("landed", Json.obj(landed.map(kv => kv._1 -> kv._2.toDouble)))
    field("distinct_keys", Json.obj(distinctKeys.map(kv => kv._1 -> kv._2.toDouble)))
    field("unmatched_keys", unmatched.toString)
  }

  // ---------------------------------------------------------------- selftest

  /** Self-tests of the harness itself: a throwing operation lands in the
    * failures and not in the timings, and the timed action evaluates a
    * projection that `count()` prunes.
    */
  private def selftest(spark: SparkSession, a: Args,
      field: (String, String) => Unit): Unit = {
    import org.apache.spark.sql.functions.{col, udf}
    val n = 1000L
    val evaluated = spark.sparkContext.longAccumulator("evaluated")
    val costly = udf { (x: Long) => evaluated.add(1); x * 2 }
    val plan = spark.range(n).select(costly(col("id")).as("y"))
    plan.count()
    val afterCount = evaluated.value
    evaluated.reset()
    execute(plan)
    val afterExecute = evaluated.value
    field("rows", n.toString)
    field("count_evaluated", afterCount.toString)
    field("execute_evaluated", afterExecute.toString)

    // a registry pass over one that throws and one real query
    val real = a("members")
    val throwing: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("deliberate failure")
    val ops = Seq("selftest_throwing" -> throwing, real -> SparkEntry.queries(real))
      .map { case (name, fn) =>
        val h0 = HostTime.now()
        val t0 = System.nanoTime()
        val err = try { execute(fn(spark, a("data"))); None }
        catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
        Op(name, 1, (System.nanoTime() - t0) / 1e9, HostTime.now() - h0, err)
      }
    field("timing_start_ms", System.currentTimeMillis().toString)
    field("timed_wall_s", Json.num(ops.map(_.seconds).sum))
    field("ops", opsJson(ops))

    // the real query's result and oracle, for the oracle-check self-test
    val v = a("verify")
    SparkEntry.queries(real)(spark, a("data")).coalesce(1).write.mode("overwrite")
      .parquet(s"$v/$real")
    Files.writeString(Paths.get(v, "oracle_sql.json"),
      s"{${Json.str(real)}:${Json.str(SparkEntry.oracleSql(real))}}")
  }

  // -------------------------------------------------------------------- host

  /** CPU time of the whole host (every CPU, every process) in clock ticks
    * of `/proc/stat`: busy (user, nice, system, irq, softirq) and stolen,
    * i.e. time a virtual CPU had work but the hypervisor ran something
    * else. Zero where `/proc/stat` is not available.
    */
  final case class HostTime(busy: Long, steal: Long) {
    def -(o: HostTime): HostTime = HostTime(busy - o.busy, steal - o.steal)
    def json: String = s"[$busy,$steal]"
  }

  object HostTime {
    def now(): HostTime = {
      val f = new File("/proc/stat")
      if (!f.canRead) HostTime(0L, 0L)
      else {
        val src = scala.io.Source.fromFile(f)
        try {
          val v = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
          HostTime(v(0) + v(1) + v(2) + v(5) + v(6), v(7))
        } finally src.close()
      }
    }
  }

  // --------------------------------------------------------------------- jvm

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set of this process (`VmHWM`), in MB. */
  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
}
