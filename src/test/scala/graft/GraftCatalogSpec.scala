package graft

import org.apache.spark.sql.Row

import graft.sources.WarehouseMeta

/** SQL catalog over the warehouse format: CREATE/INSERT/SELECT round
  * trips, PARTITIONED BY becomes the cluster layout with option-free
  * INSERT, VERSION/TIMESTAMP AS OF time travel, zero-IO ALTERs, DELETE
  * with metadata + copy-on-write tiers, and namespace/table DDL.
  */
class GraftCatalogSpec extends SparkSpec {

  private lazy val wh: String = {
    val w = scratch("catalog")
    spark.conf.set("spark.sql.catalog.graft",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    w
  }

  test("CREATE TABLE + INSERT INTO + SELECT round trip; VERSION AS OF " +
    "reads earlier generations; INSERT enforces the declared schema") {
    val _ = wh
    spark.sql("CREATE TABLE graft.db.t (k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.db.t VALUES (1, 1.5), (2, 2.5)")
    spark.sql("INSERT INTO graft.db.t VALUES (3, 3.5)")
    assert(spark.sql("SELECT * FROM graft.db.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((1L, 1.5), (2L, 2.5), (3L, 3.5)))
    // generation 0 = CREATE (empty), 1 = first insert, 2 = second
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t VERSION AS OF 1")
      .head().getLong(0) === 2L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t VERSION AS OF 0")
      .head().getLong(0) === 0L)
    // TIMESTAMP AS OF now = latest
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.t TIMESTAMP " +
      "AS OF current_timestamp()").head().getLong(0) === 3L)
    // schema drift refuses: the declared table is (BIGINT, DOUBLE)
    val ex = intercept[Exception] {
      spark.sql("INSERT INTO graft.db.t VALUES (4, 'nope')")
    }
    assert(ex.getMessage != null)
  }

  test("PARTITIONED BY records the cluster layout and option-free " +
    "INSERT cluster-splits; TBLPROPERTIES arm the bloom index") {
    val _ = wh
    spark.sql("CREATE TABLE graft.db.p (k BIGINT, band BIGINT) " +
      "PARTITIONED BY (band) " +
      "TBLPROPERTIES ('bloomFilters'='k', 'bloomBits'='65536')")
    spark.range(40).selectExpr("id AS k", "id % 4 AS band")
      .coalesce(1).writeTo("graft.db.p").append()
    val m = WarehouseMeta.readManifest(s"$wh/db/p").get
    assert(m.clusterBy === Some("band"))
    assert(m.files.size === 4, "one file per band value (cluster split)")
    assert(m.files.forall(m.parts.contains),
      "every file carries its partition value")
    assert(m.bloomConf.map(_._1) === Some(Seq("k")))
    assert(m.files.forall(f => m.blooms.get(f).exists(_ == Seq("k"))),
      "inserted files carry the declared bloom index")
  }

  test("ALTER TABLE ADD/RENAME COLUMN are zero-IO; unsupported ALTERs " +
    "refuse; DELETE FROM uses metadata then CoW tiers") {
    val _ = wh
    spark.sql("CREATE TABLE graft.db.a (k BIGINT, band BIGINT) " +
      "PARTITIONED BY (band)")
    spark.range(30).selectExpr("id AS k", "id DIV 10 AS band")
      .coalesce(1).writeTo("graft.db.a").append()
    val before = WarehouseMeta.readManifest(s"$wh/db/a").get
    spark.sql("ALTER TABLE graft.db.a ADD COLUMN tag BIGINT")
    spark.sql("ALTER TABLE graft.db.a RENAME COLUMN k TO key")
    val evolved = WarehouseMeta.readManifest(s"$wh/db/a").get
    assert(evolved.schema.fieldNames.toSeq === Seq("key", "band", "tag"))
    assert(evolved.files === before.files, "ALTERs moved zero data files")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.db.a WHERE tag IS NULL")
      .head().getLong(0) === 30L)
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.db.a DROP COLUMN tag")
    }
    // metadata DELETE: whole band (zone-provable, zero IO)
    spark.sql("DELETE FROM graft.db.a WHERE band = 0")
    val afterMeta = WarehouseMeta.readManifest(s"$wh/db/a").get
    assert(afterMeta.disposition === "DELETE")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.a")
      .head().getLong(0) === 20L)
    // partial-file DELETE: falls back to copy-on-write
    spark.sql("DELETE FROM graft.db.a WHERE key = 15")
    val afterCow = WarehouseMeta.readManifest(s"$wh/db/a").get
    assert(afterCow.disposition === "DELETE_COW")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.a")
      .head().getLong(0) === 19L)
  }

  test("SHOW TABLES, DROP TABLE, and table rename work against the " +
    "path-backed namespace") {
    val _ = wh
    spark.sql("CREATE TABLE graft.db.x (k BIGINT)")
    spark.sql("CREATE TABLE graft.db.y (k BIGINT)")
    val shown = spark.sql("SHOW TABLES IN graft.db").collect()
      .map(_.getAs[String]("tableName")).toSet
    assert(Set("x", "y").subsetOf(shown))
    spark.sql("ALTER TABLE graft.db.y RENAME TO graft.db.z")
    assert(!spark.catalog.tableExists("graft.db.y"))
    spark.sql("INSERT INTO graft.db.z VALUES (9)")
    assert(spark.sql("SELECT k FROM graft.db.z").head().getLong(0) === 9L)
    spark.sql("DROP TABLE graft.db.x")
    assert(!spark.catalog.tableExists("graft.db.x"))
    // INSERT OVERWRITE = logical truncate generation
    spark.sql("INSERT OVERWRITE graft.db.z VALUES (1), (2)")
    assert(spark.sql("SELECT count(*) AS n FROM graft.db.z")
      .head().getLong(0) === 2L)
    assert(WarehouseMeta.readManifest(s"$wh/db/z").get
      .disposition === "WRITE_TRUNCATE")
  }
}
