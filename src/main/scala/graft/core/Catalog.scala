package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** One logical table's physical binding: where it lives, what format, and
  * any reader options.
  */
final case class TableSpec(
    name: String,
    path: String,
    format: String = "parquet",
    options: Map[String, String] = Map.empty)

/** Logical-name → physical-binding catalog — the engine's analog of the
  * reference's config indirection (`config/settings.toml:1-16` maps dataset
  * ids to table names; `config/env.py:5-7` overlays environment secrets).
  * Queries name tables logically; the catalog decides path + format
  * ([[Catalog.forDir]] binds the driver testdata layout).
  *
  * The reserved option `tsNanosCol` names a column stored as parquet
  * TIMESTAMP(NANOS) (which Spark 4 reads as long via
  * `spark.sql.legacy.parquet.nanosAsLong`); the catalog rebuilds it as a
  * µs timestamp on read.
  */
final case class Catalog(tables: Map[String, TableSpec]) {

  def spec(name: String): TableSpec =
    tables.getOrElse(name, throw new IllegalArgumentException(
      s"unknown table '$name'; catalog has: " +
        tables.keys.toSeq.sorted.mkString(", ")))

  def read(spark: SparkSession, name: String): DataFrame = {
    GraftFunctions.ensureRegistered(spark)
    val t = spec(name)
    // Memoize the RESOLVED scan per (session, binding): `load()` re-lists
    // the path and re-infers the parquet schema on every call — measured
    // 70-100 ms of driver work per read (the footer-inference pass), paid
    // hundreds of times per bench sweep for the same immutable testdata
    // files. Caching the resolved relation is table-catalog behavior
    // (Spark's own `spark.table` caches resolved relations; path reads do
    // not) and reuses only METADATA — the DataFrame is a lazy plan, so
    // every action still computes from the parquet files. Bindings whose
    // physical files can change mid-session (warehouse generations, REST
    // page fixtures) do not resolve through this catalog path. The memo
    // key is the full binding, so a rebound name resolves afresh.
    SessionMemo(spark, s"table_$t") {
      val df = spark.read.format(t.format)
        .options(t.options - Catalog.TsNanosCol)
        .load(t.path)
      t.options.get(Catalog.TsNanosCol).fold(df)(Catalog.rebuildTs(df, _))
    }
  }
}

object Catalog {
  val TsNanosCol = "tsNanosCol"

  /** Adaptive µs-timestamp rebuild for a column whose physical type has
    * varied across testdata generations: parquet TIMESTAMP(NANOS) arrives
    * as a nanos long (under `nanosAsLong`) and is rebuilt with integer
    * ns→µs division (lossless — double division would corrupt ~1.7e18
    * epoch values); µs parquet without a timezone arrives as
    * TIMESTAMP_NTZ (Spark 4 NTZ inference) and is cast to the session
    * instant (graft sessions pin UTC, so the cast is value-preserving);
    * an already-µs TimestampType passes through.
    */
  def rebuildTs(df: DataFrame, c: String): DataFrame =
    df.schema(c).dataType match {
      case LongType =>
        df.withColumn(c, timestamp_micros(expr(s"`$c` div 1000")))
      case TimestampNTZType => df.withColumn(c, col(c).cast(TimestampType))
      case _ => df
    }

  /** Driver testdata layout: every table at `$sfDir/<name>.parquet`. */
  def forDir(sfDir: String): Catalog = Catalog(
    Tables.All.map { n =>
      val opts =
        if (n == "events") Map(TsNanosCol -> "ts")
        else Map.empty[String, String]
      n -> TableSpec(n, s"$sfDir/$n.parquet", "parquet", opts)
    }.toMap)
}
