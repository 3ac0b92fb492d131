package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType}

import graft.io.Sink
import graft.sources.{WarehouseCow, WarehouseEvolve, WarehouseMeta,
  WarehouseScanStats}

/** ALTER TABLE ADD COLUMN as a zero-IO metadata commit: pre-evolution
  * files decode null-filled via their manifest `farity`, appends carry
  * the new column, every metadata serve degrades conservatively for the
  * evolved column, and refusals happen before anything mutates.
  */
class WarehouseEvolveSpec extends SparkSpec {

  test("ADD COLUMN is zero-IO (files carry by path), old rows read NULL, " +
    "appends carry values, and time travel keeps the old schema") {
    import spark.implicits._
    val path = scratch("basic")
    val a = (0L until 100L).map(i => (i, i * 2)).toDF("k", "v")
    Sink.overwrite(a.repartition(2), path, format = "graft-warehouse")
    val m0 = WarehouseMeta.readManifest(path).get
    val gen = WarehouseEvolve.addColumn(path, "w", DoubleType)
    val m1 = WarehouseMeta.readManifest(path).get
    assert(gen === m0.generation + 1)
    assert(m1.disposition === "ADD_COLUMN")
    assert(m1.files === m0.files) // ZERO IO: identical file list
    assert(m1.files.forall(f => m1.fileArity(f) === 2))
    assert(m1.schema.fieldNames.toSeq === Seq("k", "v", "w"))
    // old rows decode the new column as NULL
    val t1 = Sink.read(spark, path, "graft-warehouse")
    assert(t1.filter(col("w").isNotNull).count() === 0L)
    assert(t1.count() === 100L)
    // append at the NEW schema; both vintages coexist
    val b = (100L until 150L).map(i => (i, i * 2, i * 0.5))
      .toDF("k", "v", "w")
    Sink.append(b, path, format = "graft-warehouse")
    val t2 = Sink.read(spark, path, "graft-warehouse")
    assert(t2.count() === 150L)
    assert(t2.filter(col("w").isNotNull).count() === 50L)
    assert(t2.agg(sum("w")).head.getDouble(0) ===
      (100L until 150L).map(_ * 0.5).sum)
    // projecting ONLY the new column across vintages works (pruned read)
    assert(t2.select("w").filter(col("w") > 60.0).count() ===
      (100L until 150L).count(_ * 0.5 > 60.0))
    // time travel: the pre-evolution generation has the OLD schema
    val old = Sink.read(spark, path, "graft-warehouse",
      Map("generation" -> m0.generation.toString))
    assert(old.schema.fieldNames.toSeq === Seq("k", "v"))
    assert(old.count() === 100L)
  }

  test("repeated evolution: files written between two ALTERs keep their " +
    "own arity (materialize-on-evolve)") {
    import spark.implicits._
    val path = scratch("twice")
    Sink.overwrite(Seq((1L, 10L)).toDF("k", "v").coalesce(1), path,
      format = "graft-warehouse")
    WarehouseEvolve.addColumn(path, "c3", LongType)
    Sink.append(Seq((2L, 20L, 3L)).toDF("k", "v", "c3").coalesce(1), path,
      format = "graft-warehouse")
    WarehouseEvolve.addColumn(path, "c4", StringType)
    Sink.append(Seq((3L, 30L, 33L, "x")).toDF("k", "v", "c3", "c4")
      .coalesce(1), path, format = "graft-warehouse")
    val m = WarehouseMeta.readManifest(path).get
    assert(m.files.map(m.fileArity).sorted === List(2, 3, 4))
    val rows = Sink.read(spark, path, "graft-warehouse")
      .orderBy("k").collect()
    assert(rows.map(r => (r.getLong(0),
      if (r.isNullAt(2)) -1L else r.getLong(2),
      if (r.isNullAt(3)) "-" else r.getString(3))).toSeq ===
      Seq((1L, -1L, "-"), (2L, 3L, "-"), (3L, 33L, "x")))
  }

  test("metadata serves SURVIVE evolution: the fnn=0 backfill makes the " +
    "evolved column servable from the manifest (the all-NULL vintage " +
    "provably contributes nothing) — exact on both vintages") {
    import spark.implicits._
    val path = scratch("serve")
    val a = (0L until 100L).map(i => (i, i * 2)).toDF("k", "v")
    Sink.overwrite(a.repartition(2), path, format = "graft-warehouse")
    WarehouseEvolve.addColumn(path, "w", LongType)
    Sink.append((100L until 120L).map(i => (i, i * 2, i * 3))
      .toDF("k", "v", "w"), path, format = "graft-warehouse")
    val t = Sink.read(spark, path, "graft-warehouse")
    // original column: stats exist on every file -> manifest serve
    val r1 = t.agg(min("k"), max("k"), count(lit(1))).collect().head
    assert(WarehouseScanStats.lastAggServed)
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2)) ===
      (0L, 119L, 120L))
    // evolved column: pre-evolution files carry a TRUTHFUL fnn=0 line
    // (every old row is NULL there), so min/max/count/sum all serve from
    // the manifest — old files provably contribute nothing
    val r2 = t.agg(min("w"), max("w"), count(col("w")), sum("w"))
      .collect().head
    assert(WarehouseScanStats.lastAggServed,
      "evolved column must serve from backfilled metadata")
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2), r2.getLong(3)) ===
      (300L, 357L, 20L, (100L until 120L).map(_ * 3).sum))
    // zone pruning on the evolved column keeps pre-evolution files
    // (no zone entry -> conservative) and the filter is exact above
    assert(t.filter(col("w") >= 330L).count() === 10L)
  }

  test("ADD COLUMN DEFAULT: pre-evolution rows READ the default with " +
    "zero IO; backfilled zone/fnn/fsum metadata serves aggregates and " +
    "prunes exactly across both vintages") {
    import spark.implicits._
    val path = scratch("dflt")
    val a = (0L until 100L).map(i => (i, i * 2)).toDF("k", "v")
    Sink.overwrite(a.repartition(2), path, format = "graft-warehouse")
    val m0 = WarehouseMeta.readManifest(path).get
    WarehouseEvolve.addColumn(path, "w", LongType, Some("7"))
    val m1 = WarehouseMeta.readManifest(path).get
    assert(m1.files === m0.files) // still zero IO
    // the backfill is truthful per-file metadata: lo=hi=7, fnn=rows,
    // fsum=7*rows
    for (f <- m1.files) {
      assert(m1.stats(f)("w") === graft.sources.ColStat.Longs(7L, 7L))
      assert(m1.nonNull(f)("w") === m1.rows(f))
      assert(m1.sums(f)("w") === 7L * m1.rows(f))
    }
    Sink.append((100L until 120L).map(i => (i, i * 2, i * 3))
      .toDF("k", "v", "w"), path, format = "graft-warehouse")
    val t = Sink.read(spark, path, "graft-warehouse")
    // old rows read 7, new rows their written values
    assert(t.filter(col("k") < 100L && col("w") =!= 7L).count() === 0L)
    assert(t.filter(col("w").isNull).count() === 0L)
    // aggregate serve covers BOTH vintages exactly from the manifest
    val r = t.agg(min("w"), max("w"), count(col("w")), sum("w"))
      .collect().head
    assert(WarehouseScanStats.lastAggServed)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      (7L, 357L, 120L, 700L + (100L until 120L).map(_ * 3).sum))
    // zone pruning: w > 100 provably excludes the defaulted vintage —
    // only the appended file(s) plan
    val n = t.filter(col("w") > 100L).count()
    assert(n === (100L until 120L).count(_ * 3 > 100L))
    val total = WarehouseMeta.readManifest(path).get.files.size
    assert(WarehouseScanStats.lastPlannedFiles === total - 2,
      s"the 2 defaulted files must zone-prune away (of $total)")
    // an explicit NULL default is the no-default case
    WarehouseEvolve.addColumn(path, "z", LongType, Some("NULL"))
    assert(WarehouseMeta.readManifest(path).get.defaults.get("z").isEmpty)
    // a non-constant default refuses before anything mutates
    val gen = WarehouseMeta.readManifest(path).get.generation
    intercept[Exception] {
      WarehouseEvolve.addColumn(path, "bad", LongType, Some("k + 1"))
    }
    assert(WarehouseMeta.readManifest(path).get.generation === gen)
  }

  test("ADD COLUMN DEFAULT with a STRING default reaches executors " +
    "(UTF8String tail value) and CoW rewrites materialize it") {
    import spark.implicits._
    val path = scratch("sdflt")
    Sink.overwrite((0L until 50L).map(i => (i, i)).toDF("k", "v")
      .coalesce(1), path, format = "graft-warehouse")
    WarehouseEvolve.addColumn(path, "src", StringType, Some("'legacy'"))
    val t = Sink.read(spark, path, "graft-warehouse")
    assert(t.filter(col("src") === "legacy").count() === 50L)
    // CoW update on half the rows: the rewrite reads the default-filled
    // vintage and writes REAL values; the untouched vintage still reads
    // the default
    val n = WarehouseCow.updateWhereCow(spark, path,
      org.apache.spark.sql.sources.LessThan("k", 25L),
      Map("src" -> "'fresh'"))
    assert(n === 25L)
    val byScr = Sink.read(spark, path, "graft-warehouse")
      .groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byScr === Map("fresh" -> 25L, "legacy" -> 25L))
  }

  test("RENAME COLUMN is a pure metadata rekey: data files untouched, " +
    "stats/fnn/fsum/cluster/default follow the name, serves keep " +
    "working, time travel keeps the old name") {
    import spark.implicits._
    val path = scratch("ren")
    val df = (0L until 100L).map(i => (i, i % 4, i * 2)).toDF("k", "b", "v")
    Sink.overwrite(df.repartition(1), path,
      format = "graft-warehouse", options = Map("clusterBy" -> "b"))
    val m0 = WarehouseMeta.readManifest(path).get
    WarehouseEvolve.renameColumn(path, "v", "value")
    WarehouseEvolve.renameColumn(path, "b", "bucket") // the CLUSTER column
    val m1 = WarehouseMeta.readManifest(path).get
    assert(m1.files === m0.files) // zero IO
    assert(m1.schema.fieldNames.toSeq === Seq("k", "bucket", "value"))
    assert(m1.clusterBy === Some("bucket"))
    val t = Sink.read(spark, path, "graft-warehouse")
    assert(t.agg(sum("value")).head.getLong(0) ===
      (0L until 100L).map(_ * 2).sum)
    // the rekeyed stats still serve aggregates and the grouped serve
    // still keys on the renamed cluster column
    val r = t.groupBy("bucket").agg(count(lit(1)).as("n"))
      .orderBy("bucket").collect()
    assert(WarehouseScanStats.lastAggServed)
    assert(r.map(x => (x.getLong(0), x.getLong(1))).toSeq ===
      Seq((0L, 25L), (1L, 25L), (2L, 25L), (3L, 25L)))
    // time travel: the old generation still reads under the OLD names
    assert(Sink.read(spark, path, "graft-warehouse",
      Map("generation" -> m0.generation.toString))
      .schema.fieldNames.toSeq === Seq("k", "b", "v"))
    // refusals: unknown source, existing target
    intercept[IllegalArgumentException] {
      WarehouseEvolve.renameColumn(path, "nope", "x")
    }
    intercept[IllegalArgumentException] {
      WarehouseEvolve.renameColumn(path, "k", "value")
    }
  }

  test("copy-on-write UPDATE across vintages decodes null-filled rows and " +
    "rewrites them at the full current schema") {
    import spark.implicits._
    val path = scratch("cow")
    Sink.overwrite((0L until 40L).map(i => (i, i)).toDF("k", "v")
      .coalesce(1), path, format = "graft-warehouse")
    WarehouseEvolve.addColumn(path, "w", LongType)
    Sink.append((40L until 80L).map(i => (i, i, i * 10))
      .toDF("k", "v", "w").coalesce(1), path, format = "graft-warehouse")
    // backfill the evolved column on the OLD vintage only
    val n = WarehouseCow.updateWhereCow(spark, path,
      org.apache.spark.sql.sources.LessThan("k", 40L),
      Map("w" -> "k * 10"))
    assert(n === 40L)
    val m = WarehouseMeta.readManifest(path).get
    val t = Sink.read(spark, path, "graft-warehouse")
    assert(t.filter(col("w").isNull).count() === 0L)
    assert(t.agg(sum("w")).head.getLong(0) === (0L until 80L).map(_ * 10).sum)
    // the rewritten file encodes the full schema now (no arity entry or
    // arity = 3), so a later read never under-decodes it
    assert(m.files.forall(f => m.fileArity(f) === 3))
  }

  test("refusals: duplicate column, unsupported type, no manifest — all " +
    "before anything mutates; post-evolution appends at the OLD schema " +
    "refuse (drift check protects the evolved shape)") {
    import spark.implicits._
    val path = scratch("refuse")
    Sink.overwrite(Seq((1L, 2L)).toDF("k", "v"), path,
      format = "graft-warehouse")
    val gen0 = WarehouseMeta.readManifest(path).get.generation
    intercept[IllegalArgumentException] {
      WarehouseEvolve.addColumn(path, "v", LongType)
    }
    intercept[IllegalArgumentException] {
      WarehouseEvolve.addColumn(path, "arr", ArrayType(LongType))
    }
    assert(WarehouseMeta.readManifest(path).get.generation === gen0)
    WarehouseEvolve.addColumn(path, "w", LongType)
    // an old-schema writer (e.g. a pre-ALTER job still running) refuses
    intercept[Exception] {
      Sink.append(Seq((9L, 9L)).toDF("k", "v"), path,
        format = "graft-warehouse")
    }
    assert(Sink.read(spark, path, "graft-warehouse").count() === 1L)
  }
}
