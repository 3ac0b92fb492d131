package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Skew
import graft.sources.RestPages

class RestSourceSpec extends SparkSpec {

  test("DSv2 source: pushdown prunes pages, data matches the parquet scan") {
    // build pages + read everything through the source
    val q = SparkEntry.queries("scan_rest_pushdown")
    val viaSource = q(spark, sf).collect()
    assert(viaSource.nonEmpty)
    val prunedPartitions = RestPages.lastPlannedPartitions
    // unfiltered read plans more pages than the filtered one
    val pages = graft.queries.ExtraQueries.ensurePages(spark, sf)
    val allRows = spark.read.format("graft.sources.RestSourceProvider")
      .option("path", pages).load().count()
    val allPartitions = RestPages.lastPlannedPartitions
    assert(prunedPartitions < allPartitions,
      s"expected pruning: $prunedPartitions !< $allPartitions")
    // row parity with the parquet table under the same predicate
    val expected = graft.core.Tables.read(spark, sf, "events")
      .filter(col("ts") >= lit("2024-01-03 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-05 00:00:00").cast("timestamp")).count()
    assert(viaSource.length.toLong === expected)
    assert(allRows === graft.core.Tables.read(spark, sf, "events").count())
  }

  test("limit pushdown caps reader output") {
    val pages = graft.queries.ExtraQueries.ensurePages(spark, sf)
    val n = spark.read.format("graft.sources.RestSourceProvider")
      .option("path", pages).load().limit(7).count()
    assert(n === 7)
  }

  test("$offset cursor paging: same rows as single-fetch, short page terminates") {
    import graft.sources.RestFetch
    val pages = graft.queries.ExtraQueries.ensurePages(spark, sf)
    def readAll(opts: Map[String, String]) = {
      var r = spark.read.format("graft.sources.RestSourceProvider")
        .option("path", pages)
      opts.foreach { case (k, v) => r = r.option(k, v) }
      // no orderBy on the source: a global sort adds a range-partitioner
      // sampling pass that would read (and fetch) everything twice
      r.load().collect().map(_.toSeq).toSeq
        .sortBy(_.head.asInstanceOf[Long])
    }
    val single = readAll(Map.empty)
    RestFetch.fetchCalls = 0
    val paged = readAll(Map("pageSize" -> "7"))
    val calls = RestFetch.fetchCalls
    assert(paged === single, "cursor paging must be lossless")
    // every page resource needs ceil(rows/7) fetches plus at most one
    // terminating short/empty fetch — far more than one call per page,
    // proving the cursor actually looped
    val nPages = RestPages.lastPlannedPartitions
    assert(calls > nPages,
      s"expected cursor loops, got $calls calls over $nPages pages")
    val totalRows = single.size
    assert(calls <= totalRows / 7 + 2 * nPages,
      s"$calls fetch calls is too many for $totalRows rows over $nPages pages")
  }

  test("app-token auth: rejected without, accepted with; auth is not retried") {
    import graft.sources.RestFetch
    val pages = graft.queries.ExtraQueries.ensurePages(spark, sf)
    RestFetch.requiredToken = Some("sekrit")
    try {
      val ex = intercept[org.apache.spark.SparkException] {
        spark.read.format("graft.sources.RestSourceProvider")
          .option("path", pages).load().count()
      }
      assert(ex.getMessage.contains("app token") ||
        Option(ex.getCause).exists(_.getMessage.contains("app token")))
      // wrong token also fails; and fails FAST (one fetch per attempted
      // partition, no retry storm against a 401)
      RestFetch.fetchCalls = 0
      intercept[org.apache.spark.SparkException] {
        spark.read.format("graft.sources.RestSourceProvider")
          .option("path", pages).option("appToken", "wrong")
          .option("maxRetries", "5").option("retryBackoffMs", "0")
          .load().count()
      }
      assert(RestFetch.fetchCalls <= RestPages.lastPlannedPartitions,
        s"auth errors must not be retried: ${RestFetch.fetchCalls} calls")
      // the right token reads everything
      val n = spark.read.format("graft.sources.RestSourceProvider")
        .option("path", pages).option("appToken", "sekrit").load().count()
      assert(n === graft.core.Tables.read(spark, sf, "events").count())
    } finally RestFetch.requiredToken = None
  }

  test("transient failures are retried with bounded backoff") {
    import graft.sources.{RestFetch, RestRetry, RestTransientException}
    val pages = graft.queries.ExtraQueries.ensurePages(spark, sf)
    // inject 3 transient failures; default policy (3 retries) absorbs them
    RestFetch.failNextFetches.set(3)
    val n = spark.read.format("graft.sources.RestSourceProvider")
      .option("path", pages).option("retryBackoffMs", "1").load().count()
    assert(n === graft.core.Tables.read(spark, sf, "events").count())
    assert(RestFetch.failNextFetches.get() === 0)
    // the policy is BOUNDED: more consecutive failures than maxRetries
    // surface the transient error instead of spinning forever
    var attempts = 0
    val boom = intercept[RestTransientException] {
      RestRetry.withRetry(maxRetries = 2, backoffMs = 0) {
        attempts += 1
        throw new RestTransientException("still down")
      }
    }
    assert(boom.getMessage === "still down")
    assert(attempts === 3) // initial try + 2 retries
  }

  // ---- Real HTTP transport (round-7): the same DSv2 scan driven over an
  // actual socket against an in-process loopback server (public JDK
  // com.sun.net.httpserver — no external network). The server speaks the
  // SoQL-shaped contract the transport emits: `GET /<page>?$offset=..&
  // $limit=..` with `X-App-Token`, `/index` for the page catalog, and
  // configurable 401 / 503 behavior so the auth and retry paths are
  // exercised through real sockets instead of the in-JVM simulation.

  /** Serves `fixtureDir` over loopback; hands (baseUrl, requestLog) to
    * the body — the log records each request's URI path, in order.
    * `failFirst` 503s the first N requests.
    */
  private def withRestServer(fixtureDir: String,
      requiredToken: Option[String] = None, failFirst: Int = 0)(
      body: (String, () => Seq[String]) => Unit): Unit = {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    val log = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val failures = new java.util.concurrent.atomic.AtomicInteger(failFirst)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        log.add(ex.getRequestURI.getPath)
        def respond(code: Int, payload: Array[Byte]): Unit = {
          ex.sendResponseHeaders(code, if (payload.isEmpty) -1 else payload.length)
          if (payload.nonEmpty) {
            val os = ex.getResponseBody
            try os.write(payload) finally os.close()
          }
          ex.close()
        }
        try {
          if (requiredToken.exists(t =>
              ex.getRequestHeaders.getFirst("X-App-Token") != t)) {
            respond(401, Array.empty); return
          }
          if (failures.getAndUpdate(n => math.max(0, n - 1)) > 0) {
            respond(503, Array.empty); return
          }
          val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
          val params = q.split("&").filter(_.contains("=")).map { kv =>
            val Array(k, v) = kv.split("=", 2)
            java.net.URLDecoder.decode(k, "UTF-8") -> v
          }.toMap
          val offset = params.get("$offset").map(_.toInt).getOrElse(0)
          val limit = params.get("$limit").map(_.toInt).getOrElse(Int.MaxValue)
          val name = ex.getRequestURI.getPath.stripPrefix("/")
          val lines: Seq[String] =
            if (name == "index")
              new java.io.File(fixtureDir).listFiles().map(_.getName).sorted.toSeq
            else {
              val src = scala.io.Source.fromFile(
                new java.io.File(fixtureDir, name), "UTF-8")
              try src.getLines().toList finally src.close()
            }
          val end = math.min(offset.toLong + limit, Int.MaxValue.toLong).toInt
          respond(200, lines.slice(offset, end).mkString("\n").getBytes("UTF-8"))
        } catch {
          case _: Exception => respond(500, Array.empty)
        }
      }
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}",
      () => { import scala.jdk.CollectionConverters._; log.asScala.toList })
    finally server.stop(0)
  }

  private def fixturePages(): String =
    graft.queries.ExtraQueries.ensurePages(spark, sf)

  test("HTTP transport: loopback scan equals the file-transport scan") {
    val pages = fixturePages()
    withRestServer(pages) { (base, _) =>
      val viaHttp = spark.read.format("graft.sources.RestSourceProvider")
        .option("path", base).load().collect()
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      val viaFile = spark.read.format("graft.sources.RestSourceProvider")
        .option("path", pages).load().collect()
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(viaHttp.nonEmpty)
      assert(viaHttp.toSeq === viaFile.toSeq)
    }
  }

  test("HTTP transport: index-name pruning plans fewer partitions") {
    val pages = fixturePages()
    withRestServer(pages) { (base, requests) =>
      spark.read.format("graft.sources.RestSourceProvider")
        .option("path", base).load().count()
      val allPartitions = RestPages.lastPlannedPartitions
      val nAfterFull = requests().size
      spark.read.format("graft.sources.RestSourceProvider")
        .option("path", base).load()
        .filter(col("ts") >= lit("2024-01-03 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-05 00:00:00").cast("timestamp"))
        .count()
      val pruned = RestPages.lastPlannedPartitions
      assert(pruned < allPartitions,
        s"expected pruning over HTTP: $pruned !< $allPartitions")
      // pruned pages are NEVER requested: the filtered read's data
      // requests (non-/index paths) touch exactly the kept pages
      val dataPaths = requests().drop(nAfterFull)
        .filter(_ != "/index").distinct
      assert(dataPaths.size === pruned,
        s"pruned scan fetched $dataPaths for $pruned kept pages")
    }
  }

  test("HTTP transport: 401 fails fast without retries; token accepted") {
    val pages = fixturePages()
    withRestServer(pages, requiredToken = Some("sekrit")) { (base, requests) =>
      intercept[Exception] {
        spark.read.format("graft.sources.RestSourceProvider")
          .option("path", base).option("maxRetries", "5")
          .option("retryBackoffMs", "0").load().count()
      }
      // fail-fast: each planning attempt's 401 on /index is not retried
      // (maxRetries=5 would make any retried attempt visible as 6+)
      assert(requests().size <= 2,
        s"auth rejects must not be retried: ${requests()}")
      val n = spark.read.format("graft.sources.RestSourceProvider")
        .option("path", base).option("appToken", "sekrit").load().count()
      assert(n === graft.core.Tables.read(spark, sf, "events").count())
    }
  }

  test("HTTP transport: 503s are absorbed by bounded retry") {
    val pages = fixturePages()
    withRestServer(pages, failFirst = 3) { (base, _) =>
      val n = spark.read.format("graft.sources.RestSourceProvider")
        .option("path", base).option("retryBackoffMs", "1").load().count()
      assert(n === graft.core.Tables.read(spark, sf, "events").count())
    }
  }

  test("HTTP transport: cursor paging issues real $offset requests") {
    val pages = fixturePages()
    withRestServer(pages) { (base, requests) =>
      val single = spark.read.format("graft.sources.RestSourceProvider")
        .option("path", base).load().collect()
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      val callsAfterSingle = requests().size
      val paged = spark.read.format("graft.sources.RestSourceProvider")
        .option("path", base).option("pageSize", "7").load().collect()
        .map(_.toSeq).sortBy(_.head.asInstanceOf[Long])
      assert(paged.toSeq === single.toSeq, "HTTP cursor paging must be lossless")
      val pagedData = requests().drop(callsAfterSingle).filter(_ != "/index")
      val nPages = RestPages.lastPlannedPartitions
      assert(pagedData.size > nPages,
        s"expected real cursor loops over HTTP: ${pagedData.size} data requests")
      // the loop advanced a real $offset cursor: some page was requested
      // more than once (each $offset slice is its own socket round-trip)
      assert(pagedData.size > pagedData.distinct.size,
        "expected repeated per-page requests from the cursor")
    }
  }
}

class SkewSpec extends SparkSpec {

  test("salted join is row-identical to the plain join") {
    val li = graft.core.Tables.read(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity")
    val o = graft.core.Tables.read(spark, sf, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    val plain = li.join(o, Seq("l_orderkey"))
    val salted = Skew.saltedJoin(li, o, "l_orderkey", salts = 4)
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("salting spreads a hot key across (key, salt) buckets") {
    import spark.implicits._
    val salts = 8
    val hotRows = 8000
    // one pathological key carrying 8000 distinct rows + a long tail
    val hot = spark.range(hotRows)
      .select(lit(1L).as("k"), col("id").as("payload"))
    val tail = spark.range(100)
      .select((col("id") + 2).as("k"), col("id").as("payload"))
    val large = hot.unionAll(tail)
    val small = Seq((1L, "hot"), (2L, "cold")).toDF("k", "dim")

    // unsalted: the hot key is ONE shuffle group of size 8000
    val salted = large.withColumn("__salt",
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(large.columns.map(col): _*),
        lit(salts)))
    val bucketSizes = salted.filter(col("k") === 1L)
      .groupBy("__salt").count().collect().map(_.getLong(1))
    assert(bucketSizes.length === salts,
      s"hot key must occupy all $salts salt buckets, got ${bucketSizes.length}")
    val ideal = hotRows.toDouble / salts
    assert(bucketSizes.max <= ideal * 1.5,
      s"max bucket ${bucketSizes.max} exceeds 1.5x ideal $ideal")

    // and the salted join still returns exactly the plain-join rows
    val plain = large.join(small, Seq("k"))
    val viaSalt = Skew.saltedJoin(large, small, "k", salts)
    assert(viaSalt.count() === plain.count())
    assert(viaSalt.exceptAll(plain).count() === 0)
  }

  test("salted join tolerates unhashable (MapType) columns on the large side") {
    import spark.implicits._
    // hash() raises an analysis error on maps — the salt fingerprint must
    // skip them (and maps nested in structs) instead of failing the join
    val large = spark.range(200)
      .select((col("id") % 3).as("k"), col("id").as("payload"),
        map(lit("a"), col("id")).as("m"),
        struct(map(lit("b"), col("id")).as("inner")).as("s"))
    val small = Seq((0L, "x"), (1L, "y"), (2L, "z")).toDF("k", "dim")
    val plain = large.join(small, Seq("k"))
    val viaSalt = Skew.saltedJoin(large, small, "k", salts = 4)
    assert(viaSalt.count() === plain.count())
    assert(viaSalt.select("k", "payload").exceptAll(
      plain.select("k", "payload")).count() === 0)
  }
}

/** The automatic complement to Skew.saltedJoin: with AQE's skew-join
  * handling on, a pathologically hot key in a sort-merge join is split at
  * runtime — no manual salting. Salting remains for the cases AQE can't
  * touch (aggregations, first-shuffle skew); this pins down that the
  * engine gets the join case for free.
  */
class AqeSkewSpec extends SparkSpec {

  test("AQE splits a skewed sort-merge join partition at runtime") {
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val hot = spark.range(200000).select(lit(1L).as("k"), col("id").as("p"))
      val tail = spark.range(1000)
        .select((col("id") % 50 + 2).as("k"), col("id").as("p"))
      val large = hot.unionAll(tail)
      val right = spark.range(0, 60)
        .select(col("id").as("k"), (col("id") * 10).as("v"))
      val joined = large.join(right, Seq("k"))
      // collect() drives THIS QueryExecution (count() would build its own)
      assert(joined.collect().length === 200000 + 1000)
      val planStr = joined.queryExecution.executedPlan.toString
      assert(planStr.contains("skew"),
        s"expected runtime skew handling in:\n$planStr")
    } finally prev.foreach { case (k, vOpt) =>
      vOpt.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }
}

class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions registers functions at session build time") {
    val base = spark // force shared session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val ext = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val got = ext.sql("SELECT graft_md5_mod_1e9('hello|world') AS h")
        .collect().head.getLong(0)
      assert(got === 854764784L)
      // both paths install the compiled-kernel rules: the extension at
      // session build time, ensureRegistered through the experimental hook
      val plan = ext.sql("SELECT sum(CAST(id AS DECIMAL(18,2))) AS s, " +
        "max(transform(array(id), x -> x + 1)) AS t FROM range(4)")
        .queryExecution.optimizedPlan
      val kernels = plan.expressions.flatMap(_.collect {
        case k: graft.core.Int128DecimalSum => k
        case k: graft.plans.TransformLoop => k
      })
      assert(kernels.size === 2, s"rules not installed by GraftExtensions:\n$plan")
      val hook = base.experimental.extraOptimizations
      assert(hook.contains(graft.plans.CompileTransform) &&
        hook.contains(graft.plans.SumDecimalInLongs),
        s"rules not installed by ensureRegistered: $hook")
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("an extension-only session resolves every declared function and " +
    "gates its arity") {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // a fresh context: extensions apply only to a session built with them
      val ext = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val reg = ext.sessionState.functionRegistry
      val missing = graft.core.GraftFunctions.functions.map(_.name).filterNot(n =>
        reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
      assert(missing.isEmpty, s"not registered by GraftExtensions: $missing")
      val e = intercept[Exception] {
        ext.sql("SELECT graft_dot(array(1.0))").collect()
      }
      val msg = Option(e.getMessage).getOrElse("") +
        Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      assert(msg.contains("Invalid number of arguments for function graft_dot"),
        s"${e.getClass.getName}: $msg")
    } finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }
}

class SlicesSpec extends SparkSpec {
  import java.time.LocalDate

  test("slice bounds: yesterday / year / month") {
    assert(graft.io.Slices.yesterday(LocalDate.parse("2024-03-01")) ===
      ("2024-02-29", "2024-03-01"))
    assert(graft.io.Slices.year(2023) === ("2023-01-01", "2024-01-01"))
    assert(graft.io.Slices.month(LocalDate.parse("2024-02-15")) ===
      ("2024-02-01", "2024-03-01"))
  }
}

class WatermarkSpec extends SparkSpec {
  test("late arrivals are dropped by the checkpoint-restored watermark, and counted") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = scratch("wm")
    val in = s"$root/in"; val ckpt = s"$root/ckpt"
    new java.io.File(in).mkdirs()
    val base = java.sql.Timestamp.valueOf("2024-06-01 12:00:00").getTime
    def wave(name: String, rows: Seq[(Long, Long)]): Unit = {
      val fs = org.apache.hadoop.fs.FileSystem
        .get(spark.sparkContext.hadoopConfiguration)
      val stage = s"$root/stage_$name"
      rows.map { case (id, offMin) =>
        (id, new java.sql.Timestamp(base + offMin * 60000), "click", 1.0)
      }.toDF("event_id", "ts", "event_type", "value")
        .coalesce(1).write.parquet(stage)
      val f = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      fs.rename(new org.apache.hadoop.fs.Path(f.getPath),
        new org.apache.hadoop.fs.Path(s"$in/$name.parquet"))
    }
    val out = s"$root/out"
    def run() = {
      // a FILE sink: the memory sink cannot recover from a checkpoint,
      // and checkpoint recovery is exactly what this test exercises
      val schema = spark.read.parquet(in).schema
      val q = spark.readStream.schema(schema).format("parquet").load(in)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "5 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("long").as("ws"), col("n"))
        .writeStream.outputMode("append").format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
      val dropped = q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      q.stop()
      dropped
    }
    // run 1: on-time events spanning 60 minutes -> watermark advances to
    // ~+50min (checkpointed); windows ending before it finalize
    wave("w1", (1L to 12L).map(i => (i, (i - 1) * 5)))
    val dropped1 = run()
    assert(dropped1 === 0L)
    val finalized = spark.read.parquet(out).count()
    assert(finalized > 0, "on-time windows must finalize under the watermark")

    // run 2 (same checkpoint): a wave from 3 HOURS BEFORE the restored
    // watermark -> every row dropped, and the drop is OBSERVABLE in the
    // state-operator metrics, not silent
    // five DISTINCT late windows: the drop counter sits after the partial
    // aggregation, so same-window late rows collapse to one counted row
    wave("w2", (0L until 5L).map(i => (100L + i, -180L - i * 10)))
    val dropped2 = run()
    assert(dropped2 === 5L, s"expected 5 late rows dropped, got $dropped2")
    // and nothing about the late window ever reaches the sink
    val lateWs = (base - 180L * 60000) / 1000
    assert(spark.read.parquet(out)
      .filter(col("ws") <= lateWs).count() === 0L)
  }
}

class SessionVariantsSpec extends SparkSpec {
  test("RANGE-frame sessionization is row-identical to the lag-based form") {
    val a = SparkEntry.queries("sessionize")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("window_session_gap")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(a.nonEmpty && a == b)
  }
}

class SkylineSpec extends SparkSpec {
  import spark.implicits._

  test("skyline equals brute-force non-dominance over the full part table") {
    val parts = graft.core.Tables.read(spark, sf, "part")
      .select("p_partkey", "p_size", "p_retailprice")
      .as[(Long, Int, Double)].collect().toSeq
    // b dominates a: price ≤, size ≥, strictly better in one
    val expected = parts.filter { case (_, sa, pa) =>
      !parts.exists { case (_, sb, pb) =>
        pb <= pa && sb >= sa && (pb < pa || sb > sa)
      }
    }.map(_._1).toSet
    val got = SparkEntry.queries("agg_skyline")(spark, sf)
      .select("p_partkey").as[Long].collect().toSet
    assert(got === expected && got.nonEmpty)
  }

  test("skyline keeps every part tied on a frontier point") {
    // two parts share the frontier point (size 10, price 1.0): both stay;
    // (size 10, 2.0) dominated by them; (5, 0.5) and (20, 3.0) frontier
    val df = Seq(
      (1L, 10, 1.0), (2L, 10, 1.0), (3L, 10, 2.0),
      (4L, 5, 0.5), (5L, 20, 3.0)
    ).toDF("p_partkey", "p_size", "p_retailprice")
    val out = graft.ops.Skyline.paretoFront(df, "p_size", "p_retailprice",
        Seq("p_partkey")).as[Long].collect().toSet
    assert(out === Set(1L, 2L, 4L, 5L))
  }
}
