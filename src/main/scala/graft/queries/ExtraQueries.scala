package graft.queries

import java.io.File

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.{Artifacts, Skew, Tables}
import graft.io.Sink
import graft.streaming.Streams

/** Source/skew/session operators beyond the core inventory: the DSv2
  * pushdown source (S1's live-API analog), salted skew joins, and batch
  * sessionization.
  */
object ExtraQueries {

  private val tsFmtSpark = "yyyy-MM-dd HH:mm:ss.SSSSSS"
  private val tsFmtDuck = "%Y-%m-%d %H:%M:%S.%f"

  /** Materialize the events table as daily JSONL "pages" (the simulated
    * remote paged API) once per corpus, and return the pages directory.
    *
    * The pages are produced by a distributed Spark JSON write partitioned
    * by day: executors write every byte; the driver only moves the part
    * files into the `page_<i>_<minDay>_<maxDay>.jsonl` layout RestSource
    * indexes (pure metadata ops, O(#files) regardless of data volume — no
    * `collect()`, so the fixture scales with the cluster, not the driver
    * heap). A day may yield several part files; each becomes its own page,
    * which is exactly how a real paged API behaves. `Artifacts.materialize`
    * publishes the finished page set atomically.
    */
  private[graft] def ensurePages(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val ev = Tables.read(s, dir, "events")
      .select("event_id", "ts", "event_type", "value")
    Artifacts.materialize(Artifacts.key("rest_pages", dir, ev)) { stage =>
      val json = new File(stage, "_json")
      ev.select(col("event_id"), date_format(col("ts"), tsFmtSpark).as("ts"),
          col("event_type"), col("value"),
          date_format(col("ts"), "yyyyMMdd").as("day"))
        .repartition(col("day"))
        .sortWithinPartitions("day", "event_id")
        .write.partitionBy("day")
        .json(json.getPath)
      var i = 0
      Option(json.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("day="))
        .sortBy(_.getName)
        .foreach { dayDir =>
          val day = dayDir.getName.stripPrefix("day=")
          dayDir.listFiles().filter(_.getName.startsWith("part-"))
            .sortBy(_.getName)
            .foreach { part =>
              java.nio.file.Files.move(part.toPath,
                new File(stage, f"page_${i}%03d_${day}_$day.jsonl").toPath)
              i += 1
            }
        }
      Artifacts.delete(json)
    }
  }

  val all: Seq[QueryDef] = Seq(

    // S1 live-source analog: DSv2 TableProvider with ts-range filter
    // pushdown (page pruning) + limit pushdown — the SoQL $where/$limit
    // made native (graft.sources.RestSource).
    QueryDef("scan_rest_pushdown",
      (s, dir) => {
        val pages = ensurePages(s, dir)
        s.read.format("graft.sources.RestSourceProvider")
          .option("path", pages).load()
          .filter(col("ts") >= lit("2024-01-03 00:00:00").cast("timestamp") &&
            col("ts") < lit("2024-01-05 00:00:00").cast("timestamp"))
          .select(col("event_id"),
            date_format(col("ts"), tsFmtSpark).as("ts_str"),
            col("event_type"), col("value"))
          .orderBy("event_id")
      },
      Some(s"""SELECT event_id, strftime(ts, '$tsFmtDuck') AS ts_str,
              |event_type, value FROM events
              |WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
              |  AND ts <  TIMESTAMP '2024-01-05 00:00:00'
              |ORDER BY event_id""".stripMargin)),

    // Skew-mitigated join: salted (key, salt) shuffle — row-identical to
    // the plain join, verified against the unsalted oracle.
    QueryDef("join_salted",
      (s, dir) => {
        val li = Tables.read(s, dir, "lineitem")
        val o = Tables.read(s, dir, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
        Skew.saltedJoin(li, o, "l_orderkey", salts = 8)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("decimal(12,2)")).cast("double")
              .as("sum_qty"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n_items,
             |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Sessionization (gaps-and-islands, 30-minute quiet gap).
    QueryDef("sessionize",
      (s, dir) => Streams.sessionizeBatch(s, dir),
      Some("""SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
             |count(*) AS n_events,
             |strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             |CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
             |FROM (
             |  SELECT user_id, ts, value,
             |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                        ROWS UNBOUNDED PRECEDING) AS session_idx
             |  FROM (
             |    SELECT user_id, event_id, ts, value,
             |      CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
             |           THEN 1 ELSE 0 END AS new_sess
             |    FROM (
             |      SELECT user_id, event_id, ts, value,
             |        lag(epoch_us(ts)) OVER (PARTITION BY user_id
             |                                ORDER BY ts, event_id) AS prev_us
             |      FROM events)))
             |GROUP BY user_id, session_idx
             |ORDER BY user_id, session_idx""".stripMargin)),

    // Schema evolution across table generations: v1 parquet lacks a
    // column that v2 added; a mergeSchema scan unions both layouts with
    // NULL back-fill — the long-lived-lake read path (the reference's
    // CSV loaders evolve headers the same way, SURVEY §2 F8). The
    // two-generation layout is a once-per-corpus artifact
    // (Artifacts.materialize); the declared query times the READ, not the
    // write.
    QueryDef("scan_schema_evolution",
      (s, dir) => {
        val o = Tables.read(s, dir, "orders")
          .withColumn("yr", year(col("o_orderdate")))
        val root = Artifacts.materialize(Artifacts.key("evo", dir,
            o.select("o_orderkey", "o_custkey", "o_totalprice",
              "o_orderpriority", "yr"))) { stage =>
          o.filter(col("yr") < 1995)
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .write.parquet(s"$stage/v1")
          o.filter(col("yr") >= 1995)
            .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
              col("o_orderpriority")) // the evolved column
            .write.parquet(s"$stage/v2")
        }
        s.read.option("mergeSchema", "true")
          .parquet(s"$root/v1", s"$root/v2")
          .groupBy(coalesce(col("o_orderpriority"), lit("<pre-schema>"))
            .as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("total"))
          .orderBy("priority")
      },
      Some("""SELECT CASE WHEN year(o_orderdate) >= 1995 THEN o_orderpriority
             |            ELSE '<pre-schema>' END AS priority,
             |count(*) AS n_orders,
             |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders GROUP BY 1 ORDER BY priority""".stripMargin)),

    // Sessionization by RANGE-frame emptiness: an event opens a session
    // iff the preceding (gap, 1µs] event-time window is EMPTY — the same
    // 30-minute-gap semantic as `sessionize`, derived from a RANGE frame
    // instead of lag() (the form that generalizes to "k events in the
    // last T" trigger rules). One window pass + one agg; same shuffle key.
    QueryDef("window_session_gap",
      (s, dir) => {
        val wRange = Window.partitionBy("user_id").orderBy(col("us"))
          .rangeBetween(-1800000000L, -1)
        val wIdx = Window.partitionBy("user_id").orderBy(col("us"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.read(s, dir, "events")
          .withColumn("us", unix_micros(col("ts")))
          .withColumn("new_sess",
            when(count(lit(1)).over(wRange) === 0, 1L).otherwise(0L))
          .withColumn("session_idx", sum(col("new_sess")).over(wIdx))
          .groupBy(col("user_id"), col("session_idx"))
          .agg(count(lit(1)).as("n_events"),
            date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss")
              .as("session_start"),
            sum(col("value").cast("decimal(18,6)")).cast("double")
              .as("total_value"))
          .orderBy("user_id", "session_idx")
      },
      Some("""SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
             |count(*) AS n_events,
             |strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             |CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
             |FROM (
             |  SELECT user_id, ts, value,
             |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
             |                        ROWS UNBOUNDED PRECEDING) AS session_idx
             |  FROM (
             |    SELECT user_id, ts, value,
             |      CASE WHEN count(*) OVER (
             |             PARTITION BY user_id ORDER BY epoch_us(ts)
             |             RANGE BETWEEN 1800000000 PRECEDING AND 1 PRECEDING
             |           ) = 0 THEN 1 ELSE 0 END AS new_sess
             |    FROM events))
             |GROUP BY user_id, session_idx
             |ORDER BY user_id, session_idx""".stripMargin)),

    // Native session-window sessionization (SessionWindow operator; the
    // streaming-capable form of `sessionize`). Session end = last event +
    // gap; an event exactly `gap` after the previous starts a new session
    // (Spark merges only strict overlaps), hence >= in the oracle.
    QueryDef("session_window_agg",
      (s, dir) => Streams.sessionWindowBatch(s, dir),
      Some("""SELECT user_id,
             |strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             |strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
             |count(*) AS n_events,
             |CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
             |FROM (
             |  SELECT user_id, ts, value,
             |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             |                        ROWS UNBOUNDED PRECEDING) AS sess
             |  FROM (
             |    SELECT user_id, event_id, ts, value,
             |      CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us >= 1800000000
             |           THEN 1 ELSE 0 END AS new_sess
             |    FROM (
             |      SELECT user_id, event_id, ts, value,
             |        lag(epoch_us(ts)) OVER (PARTITION BY user_id
             |                                ORDER BY ts, event_id) AS prev_us
             |      FROM events)))
             |GROUP BY user_id, sess
             |ORDER BY user_id, session_start""".stripMargin)),

    // Small-file compaction (Maintenance.compact): a deliberately
    // fragmented 64-file copy of events is compacted to ~8 MB files
    // (both steps once-per-dir fixtures, fingerprint-keyed like
    // scan_schema_evolution); the declared query reads the compacted
    // table and aggregates — the oracle checks the rewrite lost nothing
    // against the ORIGINAL table. MaintenanceSpec gates the file-count /
    // atomic-publish behavior itself.
    QueryDef("maintenance_compact",
      (s, dir) => {
        val ev = Tables.read(s, dir, "events")
        val frag = Artifacts.materialize(Artifacts.key("frag", dir, ev)) {
          ev.repartition(64).write.parquet(_)
        }
        val compacted = new File(frag + "_compacted")
        if (!compacted.exists())
          graft.ops.Maintenance.compact(s, frag, compacted.getPath, 8L << 20)
        Artifacts.scan(s, compacted.getPath)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,6)")).cast("double")
              .as("sum_value"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n_events,
             |CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Time travel over the warehouse table format: generation 0 loads the
    // pre-1998 orders, generation 1 appends the rest; the query reads BOTH
    // generations through the `generation` read option — same cost as a
    // latest-read (resolve one manifest, scan its files; generations are
    // immutable, no log replay). The fixture is published whole by
    // Artifacts.materialize, so a half-built table is never read.
    QueryDef("scan_time_travel",
      (s, dir) => {
        val o = Tables.read(s, dir, "orders")
          .select("o_orderdate", "o_totalprice")
        val pre = coalesce(year(col("o_orderdate")) < 1998, lit(false))
        // split year in the kind: the fixture layout is a function of it
        val root =
          Artifacts.materialize(Artifacts.key("wh_ordtt1998", dir, o)) {
            stage =>
              Sink.overwrite(o.filter(pre).select("o_totalprice"), stage,
                format = "graft-warehouse")
              // a zero-row append commits no generation to read back
              require(Sink.append(o.filter(!pre).select("o_totalprice"),
                stage, format = "graft-warehouse") > 0,
                "scan_time_travel needs orders from 1998 on: generation 1 " +
                  "appends them")
          }
        def snap(g: Long) = Sink.read(s, root, "graft-warehouse",
            Map("generation" -> g.toString))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("total"))
          .select(lit(g).as("version"), col("n_orders"), col("total"))
        snap(0).unionByName(snap(1)).orderBy("version")
      },
      Some("""SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_orders,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders WHERE year(o_orderdate) < 1998
             |UNION ALL
             |SELECT 1, count(*),
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             |FROM orders ORDER BY version""".stripMargin)),

    // Stats-pruned scan (io/StatsIndex): the zone-map / lakehouse-stats
    // primitive. Fixture = orders clustered into 16 files by range-
    // partition+sort on o_orderdate (DATE-typed for engine-stable
    // min/max), stats table built ONCE with one distributed pass; the
    // query then resolves a one-year predicate against the stats
    // (metadata-scale), reads only the surviving files, and aggregates
    // by month. The window is data-relative ([min+1y, min+2y)) so the
    // query survives testdata regeneration, and the fixture key carries a
    // content fingerprint (not just a row count) so a regenerated table
    // at the same path/cardinality rebuilds the index. Pruning is
    // semantically transparent (the predicate is re-applied inside the
    // scan), so the oracle is the plain filter over the original table;
    // StatsIndexSpec gates the files-actually-pruned behavior itself.
    QueryDef("scan_stats_pruned",
      (s, dir) => {
        val o = Tables.read(s, dir, "orders")
          .withColumn("o_orderdate", to_date(col("o_orderdate")))
        val minDate = o.agg(min(col("o_orderdate"))).first()
        require(!minDate.isNullAt(0),
          "scan_stats_pruned needs a non-empty orders: no o_orderdate bound")
        val d0 = minDate.getDate(0).toLocalDate
        val lo = java.sql.Date.valueOf(d0.plusYears(1))
        val hi = java.sql.Date.valueOf(d0.plusYears(2).minusDays(1))
        val root = Artifacts.materialize(Artifacts.key("zonemap", dir, o)) {
          stage =>
            o.repartitionByRange(16, col("o_orderdate"))
              .sortWithinPartitions("o_orderdate")
              .write.parquet(s"$stage/table")
            graft.io.StatsIndex.build(s, s"$stage/table", Seq("o_orderdate"))
              .coalesce(1).write.parquet(s"$stage/stats")
        }
        graft.io.StatsIndex.prunedScan(s, s"$root/table",
            Artifacts.scan(s, s"$root/stats"), "o_orderdate", lo, hi)
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("total"))
          .orderBy("month")
      },
      Some("""WITH b AS (
             |  SELECT CAST(min(CAST(o_orderdate AS DATE)) + INTERVAL 1 YEAR AS DATE) AS lo
             |  FROM orders)
             |SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
             |  count(*) AS n_orders,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders, b
             |WHERE CAST(o_orderdate AS DATE) >= b.lo
             |  AND CAST(o_orderdate AS DATE) < CAST(b.lo + INTERVAL 1 YEAR AS DATE)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Multi-dimension data skipping: orders Z-ordered (scaled Morton) on
    // (o_custkey, epoch-day of o_orderdate), stats on BOTH columns,
    // conjunctive 2-D predicate resolved against the index — either
    // dimension's file ranges narrow under the Z layout, so the scan
    // skips on both (the lakehouse CLUSTER BY / OPTIMIZE ZORDER win).
    // Window bounds are data-relative integers, identical arithmetic in
    // both engines; the oracle is the plain 2-D filter over the original
    // table (pruning is transparent). LayoutSpec gates the actual
    // file-skipping geometry — z prunes on both dims, linear only on its
    // sort key.
    QueryDef("scan_zorder_pruned",
      (s, dir) => {
        val o = Tables.read(s, dir, "orders")
          .withColumn("o_dkey", unix_date(to_date(col("o_orderdate"))).cast("long"))
        val head = o.agg(
          min(col("o_custkey").cast("long")), max(col("o_custkey").cast("long")),
          min(col("o_dkey"))).first()
        require(!head.anyNull, "scan_zorder_pruned needs a non-empty orders: " +
          "no o_custkey/o_orderdate bound")
        val (ck0, ck1, d0) = (head.getLong(0), head.getLong(1), head.getLong(2))
        val (ckLo, ckHi) = (ck0, ck0 + (ck1 - ck0) / 8)
        val (dLo, dHi) = (d0 + 365L, d0 + 729L)
        val root = Artifacts.materialize(Artifacts.key("zorder", dir, o)) {
          stage =>
            graft.io.Layout.writeZOrderedScaled(o, "o_custkey", "o_dkey",
              s"$stage/table")
            graft.io.StatsIndex.build(s, s"$stage/table",
                Seq("o_custkey", "o_dkey"))
              .coalesce(1).write.parquet(s"$stage/stats")
        }
        graft.io.StatsIndex.prunedScanMulti(s, s"$root/table",
            Artifacts.scan(s, s"$root/stats"),
            Seq(("o_custkey", ckLo, ckHi), ("o_dkey", dLo, dHi)))
          .agg(count(lit(1)).as("n_orders"),
            countDistinct(col("o_custkey")).as("n_cust"),
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("total"))
      },
      Some("""WITH b AS (
             |  SELECT min(CAST(o_custkey AS BIGINT)) AS ck0,
             |    max(CAST(o_custkey AS BIGINT)) AS ck1,
             |    min(date_diff('day', DATE '1970-01-01',
             |        CAST(o_orderdate AS DATE))) AS d0
             |  FROM orders)
             |SELECT count(*) AS n_orders,
             |  count(DISTINCT o_custkey) AS n_cust,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM orders, b
             |WHERE CAST(o_custkey AS BIGINT)
             |    BETWEEN b.ck0 AND b.ck0 + (b.ck1 - b.ck0) // 8
             |  AND date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
             |    BETWEEN b.d0 + 365 AND b.d0 + 729""".stripMargin)),

    // Bad-record quarantine on JSON ingestion (the reference's input is
    // JSON APIs; a malformed payload must quarantine, not kill the job).
    // The fixture corrupts every 50th line deterministically; the
    // PERMISSIVE read routes garbage into a corrupt-record column, and
    // the aggregate splits good/quarantined — the oracle derives the
    // same split from the clean table by the corruption rule.
    QueryDef("scan_badrecords",
      (s, dir) => {
        val ev = Tables.read(s, dir, "events")
          .select("event_id", "event_type", "value")
        val fix = Artifacts.materialize(Artifacts.key("badjson", dir, ev)) {
          ev.withColumn("l", to_json(struct(col("event_id"),
              col("event_type"), col("value"))))
            .select(
              when(pmod(col("event_id"), lit(50)) === 0,
                concat(expr("substring(l, 1, 12)"), lit(" <<truncated")))
                .otherwise(col("l")).as("value"))
            .write.text(_)
        }
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          "event_id LONG, event_type STRING, value DOUBLE, _bad STRING")
        s.read.schema(schema)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_bad")
          .json(fix)
          .agg(count(when(col("_bad").isNull, 1)).as("n_good"),
            count(col("_bad")).as("n_quarantined"),
            sum(when(col("_bad").isNull, col("value"))
              .cast("decimal(18,6)")).cast("double").as("good_value"))
      },
      Some("""SELECT
             |count(*) FILTER (WHERE event_id % 50 <> 0) AS n_good,
             |count(*) FILTER (WHERE event_id % 50 = 0) AS n_quarantined,
             |CAST(sum(CAST(value AS DECIMAL(18,6)))
             |     FILTER (WHERE event_id % 50 <> 0) AS DOUBLE) AS good_value
             |FROM events""".stripMargin)),

    // binaryFile source over a directory of media blobs (one file per
    // payload — the raw-media lake layout): Spark's binary source yields
    // (path, length, content); doc id parses from the filename and the
    // codegen'd header decode runs straight on `content`. The fixture is
    // the first-100-doc syntheticMedia payloads written once
    // (fingerprinted dir, atomic publish); the declared query times the
    // READ. The oracle recomputes both the container byte lengths and
    // the embedded dims from doc_id — green only if the files on disk
    // are byte-faithful to the constructor AND the source surfaces exact
    // lengths.
    QueryDef("scan_binaryfile",
      (s, dir) => {
        graft.core.GraftFunctions.ensureRegistered(s)
        val docs = Tables.read(s, dir, "documents")
          .filter(col("doc_id") < 100)
        val root = Artifacts.materialize(Artifacts.key("binfiles", dir, docs)) {
          stage =>
            new File(stage).mkdirs()
            graft.ops.Multimodal.syntheticMedia(docs).collect().foreach { r =>
              java.nio.file.Files.write(
                new File(stage, f"doc_${r.getLong(0)}%05d.bin").toPath,
                r.getAs[Array[Byte]](1))
            }
        }
        s.read.format("binaryFile").load(root)
          .select(
            regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1)
              .cast("long").as("doc_id"),
            col("length"),
            call_function("graft_image_dims", col("content")).as("d"))
          .select(col("doc_id"), col("length"), col("d.format").as("format"),
            col("d.width").as("width"), col("d.height").as("height"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id,
              |CAST(CASE CAST(doc_id % 3 AS INT)
              |     WHEN 0 THEN 33 WHEN 1 THEN 45 ELSE 14 END
              |     + octet_length(encode(substr(text, 1, 64)))
              |     AS BIGINT) AS length,
              |CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png'
              |     WHEN 1 THEN 'jpeg' ELSE 'gif' END AS format,
              |CAST(${graft.QueryDef.Sql.hash64(
                "'iw|' || CAST(doc_id AS VARCHAR)")} % 1920 + 1 AS INT) AS width,
              |CAST(${graft.QueryDef.Sql.hash64(
                "'ih|' || CAST(doc_id AS VARCHAR)")} % 1080 + 1 AS INT) AS height
              |FROM documents WHERE doc_id < 100
              |ORDER BY doc_id""".stripMargin))
  )
}
