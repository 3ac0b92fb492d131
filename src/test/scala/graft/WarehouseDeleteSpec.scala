package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}

import graft.io.Sink
import graft.sources.{WarehouseDelete, WarehouseMeta}

/** Metadata-only DELETE: provable file drops commit a new generation,
  * partial predicates refuse (copy-on-write territory), old generations
  * stay time-travel readable, and the deleted-row count is exact.
  */
class WarehouseDeleteSpec extends SparkSpec {

  test("a cluster-key equality delete drops whole files exactly") {
    import spark.implicits._
    val path = scratch("eq")
    val df = (0L until 100L).map(i => (i, i % 4)).toDF("k", "bucket")
    Sink.overwrite(df.repartition(4, col("bucket")), path,
      format = "graft-warehouse", options = Map("clusterBy" -> "bucket"))
    val gen0 = WarehouseMeta.readManifest(path).get.generation
    val deleted = WarehouseDelete.deleteWhere(path, EqualTo("bucket", 2L))
    assert(deleted === 25L)
    val m = WarehouseMeta.readManifest(path).get
    assert(m.generation === gen0 + 1 && m.disposition === "DELETE")
    val rest = Sink.read(spark, path, "graft-warehouse")
    assert(rest.count() === 75L)
    assert(rest.filter(col("bucket") === 2L).count() === 0L)
    // time travel: the pre-delete generation still reads every row
    assert(Sink.read(spark, path, "graft-warehouse",
      Map("generation" -> gen0.toString)).count() === 100L)
  }

  test("a range delete over range-clustered files drops the provable " +
    "prefix; a partial range refuses and leaves the table untouched") {
    import spark.implicits._
    val path = scratch("range")
    // 4 range files over k = 0..399: [0,99] [100,199] [200,299] [300,399]
    val df = (0L until 400L).map(i => (i, i * 2)).toDF("k", "v")
    Sink.overwrite(df.repartitionByRange(4, col("k")), path,
      format = "graft-warehouse")
    // k < 200 covers files 1-2 exactly -> provable
    assert(WarehouseDelete.deleteWhere(path, LessThan("k", 200L)) === 200L)
    assert(Sink.read(spark, path, "graft-warehouse").count() === 200L)
    val genAfter = WarehouseMeta.readManifest(path).get.generation
    // k >= 250 splits the [200,299] file -> refuse, nothing changes
    intercept[IllegalArgumentException] {
      WarehouseDelete.deleteWhere(path, GreaterThanOrEqual("k", 250L))
    }
    assert(WarehouseMeta.readManifest(path).get.generation === genAfter)
    assert(Sink.read(spark, path, "graft-warehouse").count() === 200L)
  }

  test("a delete matching nothing is a provable no-op generation") {
    import spark.implicits._
    val path = scratch("noop")
    val df = (0L until 50L).map(i => (i, i % 2)).toDF("k", "b")
    Sink.overwrite(df, path, format = "graft-warehouse")
    assert(WarehouseDelete.deleteWhere(path, EqualTo("k", 999L)) === 0L)
    assert(Sink.read(spark, path, "graft-warehouse").count() === 50L)
  }

  test("copy-on-write delete rewrites ONLY the partial file: full-match " +
    "files drop as metadata, no-match files carry by reference, the " +
    "deleted count is exact, and time travel keeps the old rows") {
    import spark.implicits._
    import graft.sources.WarehouseCow
    val path = scratch("cow")
    // exactly 8 files over k = 0..399 — [0,49] [50,99] [100,149] … — via
    // the cluster writer (one file per p value; repartitionByRange's
    // sampled boundaries would make the partial-file index nondeterministic)
    val df = (0L until 400L).map(i => (i, i * 2, i / 50))
      .toDF("k", "v", "p")
    Sink.overwrite(df.repartition(1), path,
      format = "graft-warehouse", options = Map("clusterBy" -> "p"))
    val m0 = WarehouseMeta.readManifest(path).get
    assert(m0.files.size === 8)
    // k <= 120: files [0,49] and [50,99] FULL-match (drop), [100,149] is
    // PARTIAL (the shape deleteWhere refuses) — CoW rewrites just it
    intercept[IllegalArgumentException] {
      WarehouseDelete.deleteWhere(path,
        org.apache.spark.sql.sources.LessThanOrEqual("k", 120L))
    }
    val deleted = WarehouseCow.deleteWhereCow(spark, path,
      org.apache.spark.sql.sources.LessThanOrEqual("k", 120L))
    assert(deleted === 121L)
    val m1 = WarehouseMeta.readManifest(path).get
    assert(m1.disposition === "DELETE_COW")
    // the 5 no-match files carry with IDENTICAL path strings (zero IO)
    val carried = m1.files.toSet intersect m0.files.toSet
    assert(carried.size === 5, s"carried=$carried")
    assert(carried.forall(f => m0.stats(f)("k")
      .asInstanceOf[graft.sources.ColStat.Longs].lo >= 150L))
    // exactly one rewritten file replaced the partial one
    assert((m1.files.toSet -- m0.files.toSet).size === 1)
    val rest = Sink.read(spark, path, "graft-warehouse")
    assert(rest.count() === 279L)
    assert(rest.agg(min("k")).head.getLong(0) === 121L)
    // exact rows survive (values, not just counts)
    assert(rest.agg(sum("v")).head.getLong(0) ===
      (121L until 400L).map(_ * 2).sum)
    // time travel: the pre-delete generation reads all 400
    assert(Sink.read(spark, path, "graft-warehouse",
      Map("generation" -> m0.generation.toString)).count() === 400L)
    // a fully-provable predicate routes through the metadata path
    val d2 = WarehouseCow.deleteWhereCow(spark, path,
      org.apache.spark.sql.sources.GreaterThanOrEqual("k", 350L))
    assert(d2 === 50L)
    assert(WarehouseMeta.readManifest(path).get.disposition === "DELETE")
  }

  test("copy-on-write delete keeps NULL-predicate rows (SQL semantics)") {
    import spark.implicits._
    import graft.sources.WarehouseCow
    val path = scratch("cownull")
    val df = Seq((1L, Some(1L)), (2L, Some(2L)), (3L, None), (4L, Some(1L)))
      .toDF("k", "v")
    Sink.overwrite(df.coalesce(1), path, format = "graft-warehouse")
    // v = 1 is partial on the single file -> CoW rewrite; the NULL-v row
    // must SURVIVE (DELETE drops only rows where the predicate is TRUE)
    val deleted = WarehouseCow.deleteWhereCow(spark, path, EqualTo("v", 1L))
    assert(deleted === 2L)
    val rest = Sink.read(spark, path, "graft-warehouse")
      .select("k").as[Long].collect().sorted.toSeq
    assert(rest === Seq(2L, 3L))
  }
}
