package graft

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.SpecBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, expr, when}

import graft.dims.{NationDim, PartDim, PriorityDim, SegmentDim, SupplierDim}
import graft.io.Sink
import graft.pipeline.{Backfill, Pipeline}
import graft.sources.WarehouseMeta

/** End-to-end DAG smoke (SURVEY §5.4): full pipeline over sf0.001, fact row
  * counts and surrogate-FK coverage.
  */
class PipelineSpec extends SparkSpec {

  private val facts = Seq("fact_lineitem", "fact_orders", "fact_integrated")
  private val dimLoaders = Seq("dim_part" -> PartDim,
    "dim_supplier" -> SupplierDim, "dim_nation" -> NationDim,
    "dim_priority" -> PriorityDim, "dim_segment" -> SegmentDim)

  /** Ids of the RDDs persisted right now; a run must add none. */
  private def persisted(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The messages of `e` and of its causes. */
  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toSeq

  test("full pipeline: fact written with 100% FK coverage") {
    val out = scratch("e2e")
    val counts = Pipeline.run(spark,
      Pipeline.Config(sf, out, "1992-01-01", "1999-01-01"))
    assert(counts("fact_lineitem") > 0)
    assert(counts("dim_time") === 1440)
    val fact = Pipeline.table(spark, out, "fact_lineitem")
    val n = fact.count()
    assert(n === counts("fact_lineitem"))
    // every fact row found its dim keys (dims built from the same slice)
    Seq("part_key", "supplier_key", "nation_key").foreach { k =>
      assert(fact.filter(fact(k).isNull).count() === 0, s"null $k")
    }
    // second fact domain + integrated fact (reference main.py:148-181,
    // load_integrated_fact.py)
    val orders = Pipeline.table(spark, out, "fact_orders")
    assert(counts("fact_orders") === orders.count() && orders.count() > 0)
    Seq("prio_key", "segment_key").foreach { k =>
      assert(orders.filter(orders(k).isNull).count() === 0, s"null $k")
    }
    val integrated = Pipeline.table(spark, out, "fact_integrated")
    assert(integrated.count() === counts("fact_lineitem") + counts("fact_orders"))
    assert(integrated.select("domain").distinct().count() === 2)
  }

  test("append-duplication quirk: dims accumulate across runs (§2.8)") {
    val out = scratch("quirk")
    Pipeline.run(spark, Pipeline.Config(sf, out, "1995-01-01", "1996-01-01"))
    val once = Pipeline.table(spark, out, "dim_nation").count()
    Pipeline.run(spark, Pipeline.Config(sf, out, "1995-01-01", "1996-01-01"))
    val twice = Pipeline.table(spark, out, "dim_nation").count()
    assert(twice === once * 2) // per-slice dedup only, append sink
  }

  test("idempotent dim upsert: re-running a slice adds no dim rows") {
    val out = scratch("idem")
    val cfg = Pipeline.Config(sf, out, "1995-01-01", "1996-01-01",
      idempotentDims = true)
    Pipeline.run(spark, cfg)
    val once = Pipeline.table(spark, out, "dim_nation").count()
    Pipeline.run(spark, cfg)
    val twice = Pipeline.table(spark, out, "dim_nation").count()
    assert(twice === once)
  }

  test("fact lands partitioned by ship_year") {
    val out = scratch("part")
    Pipeline.run(spark, Pipeline.Config(sf, out, "1995-01-01", "1997-01-01"))
    val dirs = new java.io.File(s"$out/fact_lineitem").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("ship_year="))
    assert(dirs.toSet === Set("ship_year=1995", "ship_year=1996"))
  }

  test("backfill slices a range into month windows") {
    val slices = Backfill.monthSlices("1995-01-15", "1995-04-01")
    assert(slices === Seq(
      ("1995-01-01", "1995-02-01"),
      ("1995-02-01", "1995-03-01"),
      ("1995-03-01", "1995-04-01")))
  }

  test("CLI main runs a slice end-to-end from argv") {
    val out = scratch("cli")
    graft.pipeline.Main.main(Array(
      "--sf", sf, "--out", out,
      "--start", "1995-01-01", "--end", "1996-01-01"))
    assert(Pipeline.table(spark, out, "fact_lineitem").count() > 0)
    assert(Pipeline.table(spark, out, "dim_time").count() === 1440)
  }

  test("CLI main rejects missing and unknown flags") {
    intercept[IllegalArgumentException] {
      graft.pipeline.Main.parse(Seq("--sf", "x", "--out", "y", "--start", "z"))
    }
    intercept[IllegalArgumentException] {
      graft.pipeline.Main.parse(Seq("--bogus"))
    }
  }

  test("CLI --backfill honours --idempotent-dims: a rerun adds no dim rows") {
    val out = scratch("cli_backfill")
    val argv = Array("--sf", sf, "--out", out, "--start", "1995-01-01",
      "--end", "1995-03-01", "--backfill", "--idempotent-dims")
    def dimRows(): Map[String, Long] = dimLoaders.map { case (d, _) =>
      d -> Pipeline.table(spark, out, d).count()
    }.toMap
    graft.pipeline.Main.main(argv)
    val once = dimRows()
    assert(once.values.forall(_ > 0), once)
    graft.pipeline.Main.main(argv)
    assert(dimRows() === once)
  }

  test("upsertDim after a failed first load lands the whole dim") {
    import spark.implicits._
    val dim = Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v")
    // the write evaluates `v` and throws; parquet's limit-1 skip-if-empty
    // guard prunes `v` and passes
    val poisoned = dim.repartition(2).select(col("k"),
      when(col("k") === "c", expr("raise_error('poisoned row')"))
        .otherwise(col("v")).as("v"))
    Seq("graft-warehouse", "parquet").foreach { format =>
      val path = scratch(s"upsert_abort_${format.replace('-', '_')}")
      intercept[Exception] {
        Sink.upsertDim(spark, poisoned, path, Seq("k"), format)
      }
      assert(new java.io.File(path).isDirectory,
        s"$format: the failed load left its directory")
      assert(!Sink.hasData(spark, path, format), format)
      assert(Sink.upsertDim(spark, dim, path, Seq("k"), format) === 3L, format)
      assert(Sink.read(spark, path, format).count() === 3L, format)
      assert(Sink.upsertDim(spark, dim, path, Seq("k"), format) === 0L, format)
    }
  }

  test("warehouse sink with idempotent dims over two monthly slices") {
    // the benchmark's configuration (perfbench etl_backfill)
    val out = scratch("wh_slices")
    val fmt = "graft-warehouse"
    val read = (t: String) => Pipeline.table(spark, out, t, fmt)
    val before = persisted()
    val runs = Backfill.monthSlices("1996-07-01", "1996-09-01").map {
      case (s, e) =>
        val counts = Pipeline.run(spark, Pipeline.Config(sf, out, s, e,
          idempotentDims = true, sinkFormat = fmt))
        assert(persisted() === before, s"slice $s left RDDs persisted")
        if (s == "1996-07-01") dimLoaders.foreach { case (d, _) =>
          // first slice into a fresh table: every dim row is new
          assert(read(d).count() === counts(d), d)
        }
        counts
    }
    assert(runs.forall(_("fact_lineitem") > 0), runs)
    facts.foreach { t =>
      assert(read(t).count() === runs.map(_(t)).sum, t)
    }
    Seq("fact_lineitem" -> Seq("part_key", "supplier_key", "nation_key"),
      "fact_orders" -> Seq("prio_key", "segment_key")).foreach {
      case (t, keys) => keys.foreach { k =>
        assert(read(t).filter(col(k).isNull).count() === 0L, s"$t.$k")
      }
    }
    dimLoaders.foreach { case (d, loader) =>
      val dim = read(d)
      assert(dim.count() ===
        dim.select(loader.naturalCols.map(col): _*).distinct().count(), d)
    }
  }

  test("a rerun slice over the warehouse sink opens no dim generation") {
    val out = scratch("wh_rerun")
    val cfg = Pipeline.Config(sf, out, "1996-07-01", "1996-08-01",
      idempotentDims = true, sinkFormat = "graft-warehouse")
    val first = Pipeline.run(spark, cfg)
    def generations(): Map[String, Long] = dimLoaders.map { case (d, _) =>
      d -> WarehouseMeta.readManifest(s"$out/$d").get.generation
    }.toMap
    val before = generations()
    val second = Pipeline.run(spark, cfg)
    assert(generations() === before)
    dimLoaders.foreach { case (d, _) =>
      // a dim's count is the rows its slice holds, not the rows it landed
      assert(second(d) === first(d), d)
      assert(Pipeline.table(spark, out, d, "graft-warehouse").count() ===
        first(d), d)
      val staging = new File(s"$out/$d/_staging")
      assert(!staging.exists || staging.list().isEmpty, s"$d staging")
    }
  }

  test("a sink that throws once the dims are cached leaves no RDD persisted") {
    val out = scratch("wh_throw")
    val fmt = "graft-warehouse"
    // fact_orders already holds another schema: its commit fails on drift
    Sink.append(spark.range(1).toDF("x"), s"$out/fact_orders", format = fmt)
    val before = persisted()
    val e = intercept[Exception] {
      Pipeline.run(spark, Pipeline.Config(sf, out, "1996-07-01", "1996-08-01",
        idempotentDims = true, sinkFormat = fmt))
    }
    assert(messages(e).exists(_.contains("schema drift")), messages(e))
    assert(WarehouseMeta.readManifest(s"$out/dim_priority").isDefined,
      "the dims were loaded before the fact failed")
    assert(persisted() === before)
  }

  test("a dim load that throws lands no fact and leaves no load running") {
    val out = scratch("wh_barrier")
    val fmt = "graft-warehouse"
    // dim_supplier already holds another schema: its append fails on drift
    Sink.append(spark.range(1).toDF("x"), s"$out/dim_supplier", format = fmt)
    val before = persisted()
    val e = intercept[Exception] {
      Pipeline.run(spark, Pipeline.Config(sf, out, "1996-07-01", "1996-08-01",
        sinkFormat = fmt))
    }
    assert(messages(e).exists(_.contains("schema drift")), messages(e))
    facts.foreach { t =>
      assert(WarehouseMeta.readManifest(s"$out/$t").isEmpty, s"$t manifest")
      assert(!new File(s"$out/$t").exists, s"$t directory created")
    }
    // the run threw only once every load it started had ended
    val logs = for {
      table <- new File(out).listFiles().toSeq
      log <- Option(new File(table, "_jobs").list()).toSeq.flatten
      if !log.startsWith(".")
    } yield (table.getName, WarehouseMeta.jobStates(table.getPath, log))
    assert(logs.map(_._1).toSet ===
      (Set("dim_date", "dim_time") ++ dimLoaders.map(_._1)), logs)
    logs.foreach { case (t, states) =>
      assert(!states.lastOption.contains("RUNNING"), s"$t: $states")
    }
    assert(persisted() === before)
  }

  test("the caller's job group reaches every job of a run, both sink formats") {
    val sc = spark.sparkContext
    Seq("parquet", "graft-warehouse").foreach { fmt =>
      val group = s"pipeline_spec_${fmt.replace('-', '_')}"
      val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = groups.add(
          String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
      }
      SpecBus.drain(sc)
      sc.addSparkListener(listener)
      sc.setJobGroup(group, "PipelineSpec")
      try Pipeline.run(spark, Pipeline.Config(sf, scratch(s"group_$fmt"),
        "1996-07-01", "1996-08-01", idempotentDims = true, sinkFormat = fmt))
      finally {
        sc.clearJobGroup()
        SpecBus.drain(sc)
        sc.removeSparkListener(listener)
      }
      val seen = groups.asScala.toSeq
      assert(seen.size >= 10, s"$fmt: $seen")
      assert(seen.forall(_ == group), s"$fmt: $seen")
    }
  }

  test("an empty slice writes no fact and leaves no RDD persisted") {
    val out = scratch("empty")
    val before = persisted()
    val counts = Pipeline.run(spark,
      Pipeline.Config(sf, out, "1980-01-01", "1980-02-01"))
    facts.foreach { t =>
      assert(counts(t) === 0L, t)
      assert(!new java.io.File(s"$out/$t").exists, s"$t directory created")
    }
    dimLoaders.foreach { case (d, _) => assert(counts(d) === 0L, d) }
    assert(counts("dim_time") === 1440L)
    assert(persisted() === before)
  }

  test("an empty slice over the warehouse sink creates no table") {
    val out = scratch("empty_wh")
    val before = persisted()
    val counts = Pipeline.run(spark, Pipeline.Config(sf, out,
      "1980-01-01", "1980-02-01", idempotentDims = true,
      sinkFormat = "graft-warehouse"))
    (facts ++ dimLoaders.map(_._1)).foreach { t =>
      assert(counts(t) === 0L, t)
      assert(!new File(s"$out/$t").exists, s"$t directory created")
    }
    assert(persisted() === before)
  }
}
