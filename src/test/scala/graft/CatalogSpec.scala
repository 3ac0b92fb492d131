package graft

import org.apache.spark.sql.functions._

import graft.core.{Catalog, Tables}
import graft.io.Sink

class CatalogSpec extends SparkSpec {

  test("forDir binds every testdata table and reads through it") {
    val cat = Catalog.forDir(sf)
    assert(cat.tables.keySet === Tables.All.toSet)
    val n = cat.read(spark, "nation").count()
    assert(n === spark.read.parquet(s"$sf/nation.parquet").count())
  }

  test("events binding rebuilds the nanos timestamp column") {
    val ts = Catalog.forDir(sf).read(spark, "events")
      .select(col("ts")).schema.head.dataType
    assert(ts === org.apache.spark.sql.types.TimestampType)
  }

  test("properties text parses paths, formats, options; overrides win") {
    val cat = Catalog.fromProperties(
      s"""table.nation.path   = $sf/nation.parquet
         |table.nation.format = parquet
         |table.docs.path     = /nonexistent
         |table.docs.format   = json
         |table.docs.option.multiLine = true
         |""".stripMargin,
      overrides = Map("table.docs.path" -> s"$sf/documents.parquet",
        "table.docs.format" -> "parquet"))
    assert(cat.spec("nation").format === "parquet")
    assert(cat.spec("docs").path === s"$sf/documents.parquet")
    assert(cat.spec("docs").options === Map("multiLine" -> "true"))
    assert(cat.read(spark, "docs").count() > 0)
    val err = intercept[IllegalArgumentException](cat.spec("missing"))
    assert(err.getMessage.contains("docs, nation"))
  }

  test("sink writes and reads back through a non-default format") {
    val out = s"/tmp/graft_catalog_sink_${graft.core.Artifacts.dirTag(sf)}"
    val src = Tables.read(spark, sf, "region")
    Sink.overwrite(src, out, format = "json")
    val back = Sink.read(spark, out, format = "json")
    assert(back.count() === src.count())
    assert(back.columns.sorted === src.columns.sorted)
  }
}
