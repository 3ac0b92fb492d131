package graft

import org.apache.spark.sql.functions._

import graft.io.Sink
import graft.sources.WarehouseMeta

/** Load-job sink semantics (reference `etl/core/dim_loader.py:23-30`:
  * blocking `job.result()` on a `WRITE_APPEND` load job). Every test
  * drives the writer through the PUBLIC route — `Sink.append/overwrite`
  * or `DataFrameWriter.format("graft-warehouse")` — and asserts visible
  * state by reading back through the DSv2 scan.
  */
class WarehouseSinkSpec extends SparkSpec {

  private def readBack(path: String) =
    Sink.read(spark, path, "graft-warehouse")

  test("append load jobs accumulate generations; types round-trip") {
    import spark.implicits._
    val path = scratch("append")
    val df = Seq(
      (1L, "alpha", 2.5, true),
      (2L, null.asInstanceOf[String], -0.0, false),
      (3L, "", Double.NaN, true))
      .toDF("id", "name", "score", "flag")
      .withColumn("ts", to_timestamp(lit("2024-03-01 12:34:56")))
      .withColumn("day", to_date(lit("2024-03-01")))
    assert(Sink.append(df, path, format = "graft-warehouse") === 3L)
    assert(Sink.append(df.filter(col("id") === 1L), path,
      format = "graft-warehouse") === 1L)

    val got = readBack(path).orderBy("id", "name").collect()
    assert(got.length === 4)
    assert(got.count(_.getLong(0) == 1L) === 2) // append accumulated
    val r2 = got.find(_.getLong(0) == 2L).get
    assert(r2.isNullAt(1) && r2.getBoolean(3) === false)
    val r3 = got.find(_.getLong(0) == 3L).get
    assert(r3.getString(1) === "" && r3.getDouble(2).isNaN)
    assert(got.forall(_.getTimestamp(4) != null))
    assert(got.forall(_.getDate(5).toString == "2024-03-01"))
    // two committed generations, both jobs DONE
    assert(WarehouseMeta.readManifest(path).get.generation === 1L)
    for (job <- WarehouseMeta.jobs(path))
      assert(WarehouseMeta.jobStates(path, job).last === "DONE")
  }

  test("WRITE_TRUNCATE (mode overwrite) atomically replaces the table") {
    import spark.implicits._
    val path = scratch("truncate")
    Sink.append(Seq((1L, "old")).toDF("id", "v"), path,
      format = "graft-warehouse")
    val oldFiles = WarehouseMeta.readManifest(path).get.files.toSet
    Sink.overwrite(Seq((9L, "new"), (10L, "new2")).toDF("id", "v"), path,
      format = "graft-warehouse")
    val got = readBack(path).orderBy("id").as[(Long, String)].collect()
    assert(got.toSeq === Seq((9L, "new"), (10L, "new2")))
    val m = WarehouseMeta.readManifest(path).get
    assert(m.disposition === "WRITE_TRUNCATE")
    // logical truncate: the old generation's files are retired from the
    // manifest, not rewritten — commit stays metadata-only
    assert(m.files.nonEmpty && m.files.toSet.intersect(oldFiles).isEmpty)
  }

  test("WRITE_EMPTY fails on a non-empty table and provably changes nothing") {
    import spark.implicits._
    val path = scratch("empty")
    val df = Seq((1L, "keep")).toDF("id", "v")
    Sink.append(df, path, format = "graft-warehouse")
    val before = WarehouseMeta.readManifest(path).get

    val e = intercept[Exception] {
      Seq((2L, "reject")).toDF("id", "v")
        .write.mode("append").format("graft-warehouse")
        .option("writeDisposition", "WRITE_EMPTY").save(path)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("WRITE_EMPTY")), e.toString)

    // atomic failure: manifest generation, file list, and visible rows
    // all unchanged; the failed job logged ERROR; staging cleaned
    val after = WarehouseMeta.readManifest(path).get
    assert(after.generation === before.generation)
    assert(after.files === before.files)
    assert(readBack(path).as[(Long, String)].collect().toSeq ===
      Seq((1L, "keep")))
    // the failed job's log carries the ERROR transition (Spark then calls
    // abort on the same job, appending ABORTED — both are terminal-honest)
    assert(WarehouseMeta.jobs(path).exists(j =>
      WarehouseMeta.jobStates(path, j).exists(_.startsWith("ERROR"))))
    // WRITE_EMPTY on a genuinely empty table succeeds
    val path2 = scratch("empty2")
    Seq((5L, "first")).toDF("id", "v")
      .write.mode("append").format("graft-warehouse")
      .option("writeDisposition", "WRITE_EMPTY").save(path2)
    assert(readBack(path2).count() === 1L)
  }

  test("a task failure mid-load aborts the job and leaves the table intact") {
    import spark.implicits._
    val path = scratch("abort")
    Sink.append(Seq((1L, "base")).toDF("id", "v"), path,
      format = "graft-warehouse")
    val before = WarehouseMeta.readManifest(path).get

    val poisoned = Seq((2L, "x"), (3L, "boom")).toDF("id", "v")
      .repartition(2)
      .select(col("id"), when(col("v") === "boom",
        expr("raise_error('poisoned row')")).otherwise(col("v")).as("v"))
    intercept[Exception] {
      Sink.append(poisoned, path, format = "graft-warehouse")
    }
    val after = WarehouseMeta.readManifest(path).get
    assert(after.generation === before.generation)
    assert(readBack(path).count() === 1L)
    // abort cleaned the staging area
    val fs = WarehouseMeta.fs(path)
    val staging = new org.apache.hadoop.fs.Path(path, "_staging")
    assert(!fs.exists(staging) || fs.listStatus(staging).isEmpty)
  }

  test("a zero-row append publishes nothing and ends its job ABORTED") {
    import spark.implicits._
    val path = scratch("zero_append")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Sink.append(df, path, format = "graft-warehouse")
    val manifest = new java.io.File(s"$path/_manifest/manifest-0").toPath
    val bytes = java.nio.file.Files.readAllBytes(manifest)
    val jobsBefore = WarehouseMeta.jobs(path).toSet
    // two empty tasks, each staging a zero-row file
    val none = df.filter(col("id") < 0L).repartition(2)
    assert(Sink.append(none, path, format = "graft-warehouse") === 0L)
    assert(WarehouseMeta.generations(path) === Seq(0L))
    assert(java.nio.file.Files.readAllBytes(manifest).sameElements(bytes))
    val job = (WarehouseMeta.jobs(path).toSet -- jobsBefore).toSeq
    assert(job.size === 1, job)
    assert(WarehouseMeta.jobStates(path, job.head).last === "ABORTED")
    assert(!new java.io.File(s"$path/_staging/${job.head}").exists)
    assert(readBack(path).count() === 2L)

    // the same append to a path that did not exist leaves no directory
    val fresh = scratch("zero_append_fresh")
    assert(Sink.append(none, fresh, format = "graft-warehouse") === 0L)
    assert(!new java.io.File(fresh).exists)

    // a failed first load leaves its `_jobs/` log and no manifest; the
    // directory was there before the zero-row append, so it stays
    val failed = scratch("zero_append_failed")
    intercept[Exception] {
      Sink.append(df.repartition(2).select(col("id"),
        expr("raise_error('poisoned row')").cast("string").as("v")),
        failed, format = "graft-warehouse")
    }
    assert(Sink.append(none, failed, format = "graft-warehouse") === 0L)
    assert(WarehouseMeta.readManifest(failed).isEmpty)
    assert(WarehouseMeta.jobs(failed).size === 2)
  }

  test("a zero-row overwrite still commits an empty generation") {
    import spark.implicits._
    val path = scratch("zero_truncate")
    val df = Seq((1L, "a")).toDF("id", "v")
    Sink.append(df, path, format = "graft-warehouse")
    assert(Sink.overwrite(df.filter(col("id") < 0L), path,
      format = "graft-warehouse") === 0L)
    val m = WarehouseMeta.readManifest(path).get
    assert(m.generation === 1L && m.disposition === "WRITE_TRUNCATE")
    assert(readBack(path).count() === 0L)
  }

  test("schema drift fails the load job, not the table") {
    import spark.implicits._
    val path = scratch("drift")
    Sink.append(Seq((1L, "a")).toDF("id", "v"), path,
      format = "graft-warehouse")
    intercept[Exception] {
      Sink.append(Seq((2L, 99L)).toDF("id", "v"), path,
        format = "graft-warehouse")
    }
    assert(readBack(path).count() === 1L)
  }

  test("streaming micro-batches land as one atomic load job each") {
    import spark.implicits._
    // two source files => maxFilesPerTrigger(1) yields two micro-batches
    // => two committed manifest generations, every job DONE, total exact
    val src = scratch("stream_src")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .repartition(1).write.parquet(s"$src/f1")
    Seq((3L, "c")).toDF("id", "v")
      .repartition(1).write.parquet(s"$src/f2")
    // flatten the two parquet dirs into one source dir of files
    val fs = WarehouseMeta.fs(src)
    var i = 0
    for (sub <- Seq("f1", "f2");
         st <- fs.listStatus(new org.apache.hadoop.fs.Path(s"$src/$sub"))
         if st.getPath.getName.endsWith(".parquet")) {
      i += 1
      fs.rename(st.getPath,
        new org.apache.hadoop.fs.Path(s"$src/part$i.parquet"))
    }
    val table = scratch("stream_table")
    val q = spark.readStream
      .schema(spark.read.parquet(s"$src/part1.parquet").schema)
      .option("pathGlobFilter", "part*.parquet")
      .option("maxFilesPerTrigger", 1) // one load job per source file
      .parquet(src)
      .writeStream.format("graft-warehouse")
      .option("path", table)
      .option("checkpointLocation", s"${table}_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000))
    val got = readBack(table).orderBy("id").as[(Long, String)].collect()
    assert(got.toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    val m = WarehouseMeta.readManifest(table).get
    assert(m.generation === 1L) // two committed generations: 0 and 1
    for (job <- WarehouseMeta.jobs(table))
      assert(WarehouseMeta.jobStates(table, job).last === "DONE")
  }

  test("generation option time-travels; compaction preserves rows atomically") {
    import spark.implicits._
    val path = scratch("timetravel")
    // gen 0: two rows; gen 1: append one; gen 2: compaction (TRUNCATE
    // rewrite of the current rows into one load job)
    Sink.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(2),
      path, format = "graft-warehouse")
    Sink.append(Seq((3L, "c")).toDF("id", "v"), path,
      format = "graft-warehouse")
    // compaction = read current generation, size the output (the
    // Maintenance.compact discipline — here one file), TRUNCATE-commit
    Sink.overwrite(readBack(path).coalesce(1), path,
      format = "graft-warehouse")

    def gen(g: Long) = spark.read.format("graft-warehouse")
      .option("generation", g.toString).load(path)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(gen(0L) === Seq((1L, "a"), (2L, "b")))
    assert(gen(1L) === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(gen(2L) === gen(1L)) // compaction changed layout, not rows
    assert(readBack(path).orderBy("id").as[(Long, String)]
      .collect().toSeq === gen(2L)) // latest = the compacted generation
    // the compacted generation holds fewer files than it replaced
    val m1 = WarehouseMeta.readManifest(path, Some(1L)).get
    val m2 = WarehouseMeta.readManifest(path, Some(2L)).get
    assert(m2.files.size < m1.files.size)
    // a missing generation fails loudly
    val e = intercept[Exception] {
      spark.read.format("graft-warehouse")
        .option("generation", "99").load(path).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("generation 99")), e.toString)
  }

  test("zone-map file pruning: comparison filters open only surviving files") {
    import spark.implicits._
    // three load jobs with disjoint id ranges => three files with
    // disjoint manifest stats
    val path = scratch("zonemap")
    for (r <- Seq(0L until 10L, 10L until 20L, 20L until 30L))
      Sink.append(r.map(i => (i, s"v$i", i * 0.5))
          .toDF("id", "v", "score").coalesce(1),
        path, format = "graft-warehouse")
    val m = WarehouseMeta.readManifest(path).get
    assert(m.files.size === 3)
    assert(m.stats.size === 3 &&
      m.stats.values.forall(_.contains("id")))

    def planned(df: org.apache.spark.sql.DataFrame): (Long, Int) = {
      sources.WarehouseScanStats.lastPlannedFiles = -1
      val n = df.count()
      (n, sources.WarehouseScanStats.lastPlannedFiles)
    }
    val all = readBack(path)
    // id > 25 can only live in the third file
    assert(planned(all.filter(col("id") > 25)) === ((4L, 1)))
    // id >= 10 prunes the first file only
    assert(planned(all.filter(col("id") >= 10)) === ((20L, 2)))
    // equality hits exactly one file
    assert(planned(all.filter(col("id") === 15)) === ((1L, 1)))
    // string equality prunes too: "v7" sorts past [v10,v19] and [v20,v29]
    // in binary order, so only the first file survives
    assert(planned(all.filter(col("v") === "v7")) === ((1L, 1)))
    // a filter on an unstatted column (double) prunes nothing — conservative
    assert(planned(all.filter(col("score") === 3.5)) === ((1L, 3)))
    // pruning is semantically transparent: pruned ≡ unpruned post-filter
    assert(all.filter(col("id") > 25).orderBy("id")
      .select("id", "v").as[(Long, String)].collect().toSeq ===
      (26L until 30L).map(i => (i, s"v$i")))
  }

  test("string zone maps: truncation bounds, prefix filters, multibyte") {
    import spark.implicits._
    import graft.sources.ColStat
    val path = scratch("strzone")
    // three files with disjoint STRING key zones, including values past
    // the 32-byte truncation bound and a multibyte (3-byte UTF-8) block
    val pad = "x" * 40 // forces lo/hi truncation in file 1
    Sink.append(Seq(s"alpha_$pad", s"alpha_${pad}zz", "amber")
      .toDF("k").coalesce(1), path, format = "graft-warehouse")
    Sink.append(Seq("kiwi", "lemon", "mango")
      .toDF("k").coalesce(1), path, format = "graft-warehouse")
    Sink.append(Seq("один", "пять", "семь") // Cyrillic: 0xD0/0xD1 lead bytes
      .toDF("k").coalesce(1), path, format = "graft-warehouse")

    val m = WarehouseMeta.readManifest(path).get
    // file 1's zone is truncated: lo is a 32-byte prefix, hi's last byte
    // is incremented past the true (longer) maximum
    val strs = m.stats.values.flatMap(_.get("k")).collect {
      case s: ColStat.Strs => s
    }
    assert(strs.exists(s => s.lo.length == ColStat.StrBound))
    assert(strs.forall(_.hi.isDefined))

    def planned(df: org.apache.spark.sql.DataFrame): (Long, Int) = {
      sources.WarehouseScanStats.lastPlannedFiles = -1
      val n = df.count()
      (n, sources.WarehouseScanStats.lastPlannedFiles)
    }
    val all = readBack(path)
    // equality on a mid-zone value: only its file survives
    assert(planned(all.filter(col("k") === "lemon")) === ((1L, 1)))
    // a value INSIDE file 1's truncated zone still matches despite the
    // bounds being inexact — truncation may keep files, never drop rows
    assert(planned(all.filter(col("k") === s"alpha_${pad}zz")) === ((1L, 1)))
    // range predicates across zones
    assert(planned(all.filter(col("k") >= "kiwi" && col("k") <= "mango"))
      === ((3L, 1)))
    // multibyte zone: Cyrillic sorts above all ASCII in UTF-8 binary order
    assert(planned(all.filter(col("k") > "z")) === ((3L, 1)))
    // prefix pushdown: startsWith plans only the matching zone
    assert(planned(all.filter(col("k").startsWith("alpha_"))) === ((2L, 1)))
    assert(planned(all.filter(col("k").startsWith("п"))) === ((1L, 1)))
    // a prefix matching nothing plans zero files
    assert(planned(all.filter(col("k").startsWith("zzz"))) === ((0L, 0)))
  }

  test("column pruning reaches the scan: only requested fields decode") {
    import spark.implicits._
    val path = scratch("prune")
    Sink.append(
      (0L until 50L).map(i => (i, s"name$i", i * 2.5, i % 2 == 0))
        .toDF("id", "name", "score", "flag"),
      path, format = "graft-warehouse")
    sources.WarehouseScanStats.lastReadSchema = ""
    val got = readBack(path).select("score", "id")
      .orderBy("id").collect()
    assert(got.length === 50 && got(10).getDouble(0) === 25.0)
    // the DSv2 scan's readSchema is the pruned projection, not the table
    val rs = sources.WarehouseScanStats.lastReadSchema
    assert(rs.contains("id") && rs.contains("score") &&
      !rs.contains("name") && !rs.contains("flag"), rs)
  }

  test("the declared scan_warehouse_pruned query prunes files AND columns") {
    sources.WarehouseScanStats.lastPlannedFiles = -1
    sources.WarehouseScanStats.lastReadSchema = ""
    // collect (not count) so the scan serves the query's real projection —
    // under count() Catalyst prunes even o_totalprice away, which is its
    // own nice proof that pruning reaches this scan
    val n = SparkEntry.queries("scan_warehouse_pruned")(spark, sf)
      .collect().length
    assert(n > 0)
    // the fixture range-clusters into 8 files; the [1000, 3000) key range
    // must plan strictly fewer (zone maps engaged on real data)
    val planned = sources.WarehouseScanStats.lastPlannedFiles
    assert(planned > 0 && planned < 8, s"planned $planned of 8 files")
    val rs = sources.WarehouseScanStats.lastReadSchema
    assert(rs.contains("o_orderkey") && rs.contains("o_totalprice") &&
      !rs.contains("o_custkey"), rs)
  }

  test("the dim/fact pipeline runs end-to-end through the load-job sink") {
    // The reference's whole DAG terminates in BigQuery load jobs
    // (main.py:59-67 + dim_loader.py:23-30); prove ours runs through the
    // warehouse boundary with identical observed counts and readable,
    // FK-stamped outputs.
    val out = scratch("pipeline")
    val counts = graft.pipeline.Pipeline.run(spark,
      graft.pipeline.Pipeline.Config(sf, out,
        "1996-01-01", "1996-04-01", sinkFormat = "graft-warehouse"))
    assert(counts("fact_lineitem") > 0)
    val fact = graft.pipeline.Pipeline.table(spark, out, "fact_lineitem",
      "graft-warehouse")
    assert(fact.count() === counts("fact_lineitem"))
    // FK coverage: every stamped key resolves (dims built from the slice)
    assert(fact.filter(col("part_key").isNull).count() === 0L)
    val dim = graft.pipeline.Pipeline.table(spark, out, "dim_part",
      "graft-warehouse")
    assert(dim.count() === counts("dim_part"))
    assert(WarehouseMeta.readManifest(s"$out/fact_integrated").isDefined)
  }
}
