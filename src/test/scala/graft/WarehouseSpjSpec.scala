package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.io.Sink
import graft.sources.WarehouseMeta

/** Storage-partitioned joins over cluster-loaded warehouse tables: two
  * tables written with the same `clusterBy` report KeyGroupedPartitioning
  * and equi-join on the cluster key WITHOUT a shuffle — plus the layout
  * invariants (one value per file, clusterBy drift refusal) and the
  * value-identity fallback when only one side is clustered.
  */
class WarehouseSpjSpec extends SparkSpec {

  private def shuffles(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case s: ShuffleExchangeExec => s
    }.size

  private def withSpj[T](body: => T): T = {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      spark.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  private def writeClustered(path: String, rows: Seq[(String, Long)],
      keyName: String, valName: String): Unit = {
    import spark.implicits._
    Sink.overwrite(rows.toDF(keyName, valName).repartition(3), path,
      format = "graft-warehouse", options = Map("clusterBy" -> keyName))
  }

  test("co-clustered tables equi-join with ZERO shuffles; values match " +
    "the shuffled plan") {
    val a = scratch("a")
    val b = scratch("b")
    writeClustered(a, Seq(("x", 1L), ("x", 2L), ("y", 3L), ("z", 4L)),
      "k", "va")
    writeClustered(b, Seq(("x", 10L), ("y", 20L), ("z", 30L), ("z", 40L)),
      "k", "vb")
    withSpj {
      // no orderBy: a global sort would add its own (legitimate) range
      // exchange — the join + groupBy alone must be exchange-free
      val j = Sink.read(spark, a, "graft-warehouse")
        .join(Sink.read(spark, b, "graft-warehouse"), "k")
        .groupBy("k").agg(count(lit(1)).as("n"),
          sum(col("va") + col("vb")).as("s"))
      val got = j.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(got.toSeq === Seq(("x", 2L, 23L), ("y", 1L, 23L),
        ("z", 2L, 74L + 4L)))
      // one row per cluster value reached the join pre-grouped: the join
      // AND the groupBy(k) ride the reported partitioning — no exchange
      assert(shuffles(j) === 0,
        s"expected a shuffle-free storage-partitioned join:\n" +
          j.queryExecution.executedPlan)
    }
  }

  test("single-side clustering still answers correctly (exchange on the " +
    "unclustered side only)") {
    import spark.implicits._
    val a = scratch("one")
    writeClustered(a, Seq(("x", 1L), ("y", 2L)), "k", "va")
    withSpj {
      val plain = Seq(("x", 5L), ("y", 6L)).toDF("k", "vb")
      val j = Sink.read(spark, a, "graft-warehouse").join(plain, "k")
        .orderBy("k", "va")
      assert(j.collect().map(_.getLong(2)).toSeq === Seq(5L, 6L))
    }
  }

  test("layout invariant: one cluster value per committed file; nulls get " +
    "their own group") {
    import spark.implicits._
    val p = scratch("layout")
    val df = Seq(("x", 1L), ("y", 2L), (null.asInstanceOf[String], 3L),
      ("x", 4L)).toDF("k", "v")
    Sink.overwrite(df.repartition(2), p, format = "graft-warehouse",
      options = Map("clusterBy" -> "k"))
    val m = WarehouseMeta.readManifest(p).get
    assert(m.clusterBy === Some("k"))
    assert(m.files.forall(m.parts.contains), "every file carries a value")
    // read back through the scan: nothing lost, null row intact
    val got = Sink.read(spark, p, "graft-warehouse").collect()
    assert(got.length === 4)
    assert(got.count(_.isNullAt(0)) === 1)
  }

  test("appends inherit the cluster layout option-free (the SQL INSERT " +
    "path); a CONFLICTING layout refuses; truncate re-layouts") {
    import spark.implicits._
    val p = scratch("drift")
    writeClustered(p, Seq(("x", 1L)), "k", "v")
    val plain = Seq(("y", 2L)).toDF("k", "v")
    // option-free append INHERITS the table's layout (round-14: the SQL
    // `INSERT INTO` a PARTITIONED BY table carries no options)
    Sink.append(plain, p, format = "graft-warehouse")
    val m1 = WarehouseMeta.readManifest(p).get
    assert(m1.clusterBy === Some("k"))
    assert(m1.files.forall(m1.parts.contains),
      "inherited-layout append must cluster-split")
    // an explicitly DIFFERENT layout is drift and refuses
    intercept[Exception] {
      Sink.append(plain, p, format = "graft-warehouse",
        options = Map("clusterBy" -> "v"))
    }
    // same clusterBy appends fine
    Sink.append(plain, p, format = "graft-warehouse",
      options = Map("clusterBy" -> "k"))
    assert(Sink.read(spark, p, "graft-warehouse").count() === 3L)
    // truncate with a different layout is a fresh start
    Sink.overwrite(plain, p, format = "graft-warehouse")
    assert(WarehouseMeta.readManifest(p).get.clusterBy === None)
  }

  test("the declared join_warehouse_spj plans its join with no exchange " +
    "under either input") {
    withSpj {
      val df = SparkEntry.queries("join_warehouse_spj")(spark, sf)
      val plan = df.queryExecution.executedPlan
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
          j
      }
      assert(joins.nonEmpty, s"expected a shuffled-family join:\n$plan")
      assert(joins.forall(_.collect {
        case s: ShuffleExchangeExec => s
      }.isEmpty), s"the SPJ join must read the reported partitioning:\n$plan")
    }
  }

  test("streaming load jobs preserve the cluster layout: every appended " +
    "generation stays one-value-per-file") {
    import spark.implicits._
    val src = scratch("stream_src")
    Seq((1L, "x"), (2L, "y")).toDF("id", "seg")
      .repartition(1).write.parquet(s"$src/f1")
    Seq((3L, "x"), (4L, "z")).toDF("id", "seg")
      .repartition(1).write.parquet(s"$src/f2")
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
      .option("clusterBy", "seg")
      .option("checkpointLocation", s"${table}_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000))
    val m = WarehouseMeta.readManifest(table).get
    assert(m.clusterBy === Some("seg"))
    assert(m.files.forall(m.parts.contains),
      "every micro-batch file carries its cluster value")
    assert(m.generation === 1L, "one load job per source file")
    for (job <- WarehouseMeta.jobs(table))
      assert(WarehouseMeta.jobStates(table, job).last === "DONE")
    val got = Sink.read(spark, table, "graft-warehouse")
      .orderBy("id").as[(Long, String)].collect()
    assert(got.toSeq === Seq((1L, "x"), (2L, "y"), (3L, "x"), (4L, "z")))
  }

  test("integral cluster keys group and join shuffle-free too") {
    import spark.implicits._
    val a = scratch("inta")
    val b = scratch("intb")
    Sink.overwrite(Seq((1L, "a"), (2L, "b"), (2L, "c")).toDF("id", "s")
        .repartition(2), a,
      format = "graft-warehouse", options = Map("clusterBy" -> "id"))
    Sink.overwrite(Seq((1L, 10L), (2L, 20L)).toDF("id", "w")
        .repartition(2), b,
      format = "graft-warehouse", options = Map("clusterBy" -> "id"))
    withSpj {
      val j = Sink.read(spark, a, "graft-warehouse")
        .join(Sink.read(spark, b, "graft-warehouse"), "id")
      assert(j.collect().map(r => (r.getLong(0), r.getString(1),
          r.getLong(2))).sortBy(t => (t._1, t._2)).map(_._3).toSeq ===
        Seq(10L, 20L, 20L))
      assert(shuffles(j) === 0,
        s"integral SPJ shuffled:\n${j.queryExecution.executedPlan}")
    }
  }
}
