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
    val err = intercept[IllegalArgumentException](cat.spec("missing"))
    assert(err.getMessage.contains(Tables.All.sorted.mkString(", ")))
  }

  test("events binding rebuilds the nanos timestamp column") {
    val ts = Catalog.forDir(sf).read(spark, "events")
      .select(col("ts")).schema.head.dataType
    assert(ts === org.apache.spark.sql.types.TimestampType)
  }

  test("sink writes and reads back through a non-default format") {
    val out = scratch("catalog_sink")
    val src = Tables.read(spark, sf, "region")
    Sink.overwrite(src, out, format = "json")
    val back = Sink.read(spark, out, format = "json")
    assert(back.count() === src.count())
    assert(back.columns.sorted === src.columns.sorted)
  }
}
