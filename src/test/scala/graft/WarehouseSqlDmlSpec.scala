package graft

import org.apache.spark.sql.functions._

import graft.sources.{WarehouseCdc, WarehouseMeta}

/** SQL UPDATE / MERGE INTO as group-based copy-on-write row-level
  * operations: only the files the pushed condition can touch rewrite,
  * everything else carries by reference, commits are ordinary CoW
  * generations (time travel + change feed see them), and a no-match
  * predicate rewrites nothing.
  */
class WarehouseSqlDmlSpec extends SparkSpec {

  private lazy val wh: String = {
    val w = scratch("sqldml")
    spark.conf.set("spark.sql.catalog.gdml",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gdml.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gdml.db")
    w
  }

  test("UPDATE rewrites only the zone-matching files; untouched files " +
    "carry by path; the commit is a CoW generation the feed classifies") {
    val _ = wh
    spark.sql("CREATE TABLE gdml.db.u (k BIGINT, v DOUBLE, band BIGINT) " +
      "PARTITIONED BY (band)")
    spark.range(40).selectExpr("id AS k", "1.0 AS v", "id % 4 AS band")
      .coalesce(1).writeTo("gdml.db.u").append()
    val before = WarehouseMeta.readManifest(s"$wh/db/u").get
    assert(before.files.size === 4)
    spark.sql("UPDATE gdml.db.u SET v = v + 8.0 WHERE band = 2")
    val after = WarehouseMeta.readManifest(s"$wh/db/u").get
    assert(after.disposition === "UPDATE_COW")
    // the three non-matching band files carry byte-identical paths
    val carried = before.files.toSet.intersect(after.files.toSet)
    assert(carried.size === 3,
      s"3 of 4 files must carry (carried ${carried.size})")
    assert(spark.sql(
      "SELECT sum(v) AS s FROM gdml.db.u").head().getDouble(0) ===
      40 * 1.0 + 10 * 8.0)
    assert(spark.sql(
      "SELECT count(*) AS n FROM gdml.db.u WHERE v = 9.0").head()
      .getLong(0) === 10L)
    // time travel keeps the pre-image; the change feed classifies it
    assert(spark.sql(
      "SELECT sum(v) AS s FROM gdml.db.u VERSION AS OF 1").head()
      .getDouble(0) === 40.0)
    val changes = WarehouseCdc.tableChanges(spark, s"$wh/db/u",
      before.generation, after.generation).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Double]("v")))
    assert(changes.count(_ == ("update_preimage", 1.0)) === 10)
    assert(changes.count(_ == ("update_postimage", 9.0)) === 10)
    assert(changes.length === 20)
    // a provably-no-match UPDATE rewrites nothing
    spark.sql("UPDATE gdml.db.u SET v = 0.0 WHERE band = 99")
    val noop = WarehouseMeta.readManifest(s"$wh/db/u").get
    assert(noop.files.toSet === after.files.toSet,
      "no-match UPDATE must carry every file")
  }

  test("MERGE INTO applies matched UPDATE/DELETE and not-matched " +
    "INSERT in one atomic CoW generation") {
    val _ = wh
    spark.sql("CREATE TABLE gdml.db.m (k BIGINT, v DOUBLE, band BIGINT) " +
      "PARTITIONED BY (band)")
    spark.range(20).selectExpr("id AS k", "1.0 AS v", "id % 2 AS band")
      .coalesce(1).writeTo("gdml.db.m").append()
    val before = WarehouseMeta.readManifest(s"$wh/db/m").get
    spark.sql(
      """MERGE INTO gdml.db.m t
        |USING (SELECT * FROM VALUES
        |  (4L, 7.0, 0L), (5L, 0.0, 1L), (25L, 3.0, 1L)
        |  AS s(k, v, band)) s
        |ON t.k = s.k
        |WHEN MATCHED AND s.v = 0.0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET t.v = s.v
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = WarehouseMeta.readManifest(s"$wh/db/m").get
    assert(after.disposition === "MERGE")
    assert(after.generation === before.generation + 1,
      "one MERGE = one atomic generation")
    val got = spark.sql("SELECT k, v FROM gdml.db.m ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = (0L until 20L).filterNot(_ == 5L)
      .map(k => (k, if (k == 4L) 7.0 else 1.0)) :+ (25L, 3.0)
    assert(got === want)
    // cluster layout survives the merge (every file keeps a part value)
    assert(after.files.forall(after.parts.contains))
  }
}
