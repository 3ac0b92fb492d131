package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan, LessThanOrEqual}

import graft.io.Sink
import graft.sources.{WarehouseCow, WarehouseMeta}

/** Copy-on-write UPDATE: only files whose zone maps might hold a matching
  * row rewrite; provable no-match files carry by reference; SQL NULL
  * semantics (a NULL predicate leaves the row untouched); the updated-row
  * count is exact; refusals happen before anything mutates.
  */
class WarehouseUpdateSpec extends SparkSpec {

  test("update rewrites ONLY might-match files; no-match files carry by " +
    "reference; the count is exact; time travel keeps the old values") {
    import spark.implicits._
    val path = scratch("cow")
    // exactly 8 files over k = 0..399 via the cluster writer, one band
    // per file with exact zone boundaries [0,49] [50,99] …
    val df = (0L until 400L).map(i => (i, i * 2, i / 50))
      .toDF("k", "v", "p")
    Sink.overwrite(df.repartition(1), path,
      format = "graft-warehouse", options = Map("clusterBy" -> "p"))
    val m0 = WarehouseMeta.readManifest(path).get
    assert(m0.files.size === 8)
    // k <= 120 zone-hits bands 0-2; bands 3-7 provably can't match
    val updated = WarehouseCow.updateWhereCow(spark, path,
      LessThanOrEqual("k", 120L), Map("v" -> "v + 10000"))
    assert(updated === 121L)
    val m1 = WarehouseMeta.readManifest(path).get
    assert(m1.disposition === "UPDATE_COW")
    val carried = m1.files.toSet intersect m0.files.toSet
    assert(carried.size === 5, s"carried=$carried")
    assert(carried.forall(f => m0.stats(f)("k")
      .asInstanceOf[graft.sources.ColStat.Longs].lo >= 150L))
    // rewritten replacements: 3 bands in, 3 files out (cluster re-split)
    assert((m1.files.toSet -- m0.files.toSet).size === 3)
    val cur = Sink.read(spark, path, "graft-warehouse")
    assert(cur.count() === 400L) // UPDATE never changes cardinality
    // exact values: k <= 120 got +10000, the rest are untouched
    assert(cur.agg(sum("v")).head.getLong(0) ===
      (0L until 400L).map(_ * 2).sum + 121L * 10000L)
    assert(cur.filter(col("k") > 120L && col("v") >= 10000L).count() === 0L)
    // time travel: the pre-update generation still reads the old values
    assert(Sink.read(spark, path, "graft-warehouse",
      Map("generation" -> m0.generation.toString))
      .agg(sum("v")).head.getLong(0) === (0L until 400L).map(_ * 2).sum)
  }

  test("NULL-predicate rows are untouched (SQL semantics) and the SET " +
    "cast preserves the declared column type") {
    import spark.implicits._
    val path = scratch("null")
    val df = Seq((1L, Some(1L)), (2L, Some(2L)), (3L, None), (4L, Some(1L)))
      .toDF("k", "v")
    Sink.overwrite(df.coalesce(1), path, format = "graft-warehouse")
    val updated = WarehouseCow.updateWhereCow(spark, path,
      EqualTo("v", 1L), Map("v" -> "v * 2.5")) // 2.5 → DOUBLE, cast → LONG
    assert(updated === 2L)
    val rows = Sink.read(spark, path, "graft-warehouse")
      .orderBy("k").select("v").collect().map(r =>
        if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq
    assert(rows === Seq(Some(2L), Some(2L), None, Some(2L)))
    val m = WarehouseMeta.readManifest(path).get
    assert(m.schema.simpleString ===
      "struct<k:bigint,v:bigint>") // schema stability survived the cast
  }

  test("a provable no-match update commits nothing; an unknown SET " +
    "column refuses before anything mutates") {
    import spark.implicits._
    val path = scratch("noop")
    val df = (0L until 100L).map(i => (i, i)).toDF("k", "v")
    Sink.overwrite(df.coalesce(1), path, format = "graft-warehouse")
    val gen0 = WarehouseMeta.readManifest(path).get.generation
    assert(WarehouseCow.updateWhereCow(spark, path,
      GreaterThan("k", 999L), Map("v" -> "0")) === 0L)
    assert(WarehouseMeta.readManifest(path).get.generation === gen0)
    intercept[IllegalArgumentException] {
      WarehouseCow.updateWhereCow(spark, path,
        EqualTo("k", 1L), Map("nope" -> "0"))
    }
    assert(WarehouseMeta.readManifest(path).get.generation === gen0)
  }

  test("updating the CLUSTER column re-splits per new value, keeping the " +
    "one-value-per-file invariant") {
    import spark.implicits._
    val path = scratch("clus")
    val df = (0L until 100L).map(i => (i, i % 4)).toDF("k", "b")
    Sink.overwrite(df.repartition(1), path,
      format = "graft-warehouse", options = Map("clusterBy" -> "b"))
    // merge cluster value 1 into 3: the b=1 file rewrites into the b=3
    // value; zone maps prove b∈{0,2,3} files can't match... except the
    // writer's zone maps are per-file (b=1 exactly), so only that file
    // rewrites and its replacement lands as a single b=3 file
    val m0 = WarehouseMeta.readManifest(path).get
    val updated = WarehouseCow.updateWhereCow(spark, path,
      EqualTo("b", 1L), Map("b" -> "3"))
    assert(updated === 25L)
    val m1 = WarehouseMeta.readManifest(path).get
    assert((m1.files.toSet intersect m0.files.toSet).size === 3)
    // every file still holds exactly one cluster value
    for (f <- m1.files) {
      val st = m1.stats(f)("b").asInstanceOf[graft.sources.ColStat.Longs]
      assert(st.lo === st.hi, s"file $f spans b=[${st.lo},${st.hi}]")
    }
    val byB = Sink.read(spark, path, "graft-warehouse")
      .groupBy("b").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byB === Map(0L -> 25L, 2L -> 25L, 3L -> 50L))
  }
}
