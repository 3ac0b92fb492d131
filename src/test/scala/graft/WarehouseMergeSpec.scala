package graft

import org.apache.spark.sql.functions._

import graft.io.Sink
import graft.sources.{WarehouseMerge, WarehouseMeta}

/** Copy-on-write MERGE at the warehouse boundary: changelog semantics
  * (highest-seq op per key wins; winning D removes the key; I/U upsert),
  * with zone-map file classification — untouched files carry by
  * reference, only key-range-hit files rewrite, inserts land with the
  * rewrite, and earlier generations stay time-travel readable.
  */
class WarehouseMergeSpec extends SparkSpec {

  private def fixture(path: String): Unit = {
    // exactly 8 files over k = 0..399 via the cluster writer (one file
    // per p value — deterministic zone boundaries [0,49] [50,99] …)
    val df = spark.range(400).select(col("id").as("k"),
      (col("id") * 10).as("v"), expr("id div 50").as("p"))
    Sink.overwrite(df.repartition(1), path,
      format = "graft-warehouse", options = Map("clusterBy" -> "p"))
  }

  private def changelog = {
    import spark.implicits._
    Seq(
      // U then D on the same key: D has the higher seq -> key 5 deleted
      (5L, 555L, 0L, "U", 1L),
      (5L, 0L, 0L, "D", 2L),
      // two updates: the later one wins
      (17L, 111L, 0L, "U", 1L),
      (17L, 170170L, 0L, "U", 2L),
      // plain delete
      (42L, 0L, 0L, "D", 1L),
      // delete of an ABSENT key: no-op (applyChangelog yields no row)
      (9999L, 0L, 0L, "D", 1L),
      // D then later I: the key resurrects with the insert payload
      (60L, 606L, 1L, "D", 1L),
      (60L, 606L, 1L, "I", 2L),
      // fresh insert outside every zone
      (1000L, 77L, 20L, "I", 1L)
    ).toDF("k", "v", "p", "op", "seq")
  }

  test("changelog merge rewrites only zone-hit files; carries the rest " +
    "by reference; final state matches the changelog semantics") {
    val path = scratch("cdc")
    fixture(path)
    val m0 = WarehouseMeta.readManifest(path).get
    assert(m0.files.size === 8)
    val st = WarehouseMerge.applyChangelogCow(spark, path, changelog,
      key = "k", seqCol = "seq", opCol = "op")
    // affected keys 5,17,42,60,1000,9999: zones hit = [0,49] [50,99]
    // (1000 and 9999 hit nothing — pure inserts/no-ops)
    assert(st.rewritten === 2, st.toString)
    assert(st.carried === 6)
    val m1 = WarehouseMeta.readManifest(path).get
    assert(m1.disposition === "MERGE")
    assert((m0.files.toSet intersect m1.files.toSet).size === 6,
      "untouched files carry with identical path strings")
    val rd = Sink.read(spark, path, "graft-warehouse")
    // 400 - deleted(5, 42) + inserted(1000); 60 resurrected (D then I)
    assert(rd.count() === 399L)
    assert(rd.filter(col("k").isin(5L, 42L)).count() === 0L)
    val got = rd.filter(col("k").isin(17L, 60L, 1000L))
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(got === Map(17L -> 170170L, 60L -> 606L, 1000L -> 77L))
    // untouched rows really untouched
    assert(rd.filter(col("k") === 200L).head.getLong(1) === 2000L)
    // time travel: pre-merge generation unchanged
    assert(Sink.read(spark, path, "graft-warehouse",
      Map("generation" -> m0.generation.toString)).count() === 400L)
  }

  test("interval fallback (changeset too big to collect) is conservative " +
    "but identical in result") {
    val path = scratch("cdcwide")
    fixture(path)
    val st = WarehouseMerge.applyChangelogCow(spark, path, changelog,
      key = "k", seqCol = "seq", opCol = "op", maxKeysCollect = 0)
    // [min,max] = [5,9999] overlaps EVERY zone -> all 8 rewrite
    assert(st.rewritten === 8 && st.carried === 0)
    val rd = Sink.read(spark, path, "graft-warehouse")
    assert(rd.count() === 399L)
    assert(rd.filter(col("k") === 17L).head.getLong(1) === 170170L)
  }

  test("a changeset disjoint from every zone is a pure insert: all files " +
    "carry, one new file holds the inserts") {
    import spark.implicits._
    val path = scratch("insonly")
    fixture(path)
    val m0 = WarehouseMeta.readManifest(path).get
    val ins = Seq((5000L, 1L, 100L, "I", 1L), (5001L, 2L, 100L, "I", 1L))
      .toDF("k", "v", "p", "op", "seq")
    val st = WarehouseMerge.applyChangelogCow(spark, path, ins,
      key = "k", seqCol = "seq", opCol = "op")
    assert(st.rewritten === 0 && st.carried === 8)
    val m1 = WarehouseMeta.readManifest(path).get
    assert(m0.files.forall(m1.files.contains))
    assert(Sink.read(spark, path, "graft-warehouse").count() === 402L)
  }

  test("payload-schema drift refuses before anything mutates") {
    import spark.implicits._
    val path = scratch("drift")
    fixture(path)
    val gen0 = WarehouseMeta.readManifest(path).get.generation
    val bad = Seq((1L, "x", "U", 1L)).toDF("k", "extra", "op", "seq")
    intercept[IllegalArgumentException] {
      WarehouseMerge.applyChangelogCow(spark, path, bad,
        key = "k", seqCol = "seq", opCol = "op")
    }
    assert(WarehouseMeta.readManifest(path).get.generation === gen0)
  }
}
