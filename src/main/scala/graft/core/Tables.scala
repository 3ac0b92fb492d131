package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table access for the driver testdata layout (one parquet per table,
  * `TESTDATA.md`). Mirrors the reference's catalog indirection
  * (config/settings.toml:1-16 maps logical names -> physical tables) as a
  * logical-name -> path resolution.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** Scan one logical table through the catalog binding for `sfDir`
    * (see [[Catalog.forDir]]). Column pruning + predicate pushdown reach
    * the parquet reader automatically because this stays a plain
    * DataSource scan.
    *
    * `events.ts` is written as parquet TIMESTAMP(NANOS), which Spark 4 will
    * not map to its µs TimestampType directly — the catalog's `tsNanosCol`
    * option reads nanos as long (`spark.sql.legacy.parquet.nanosAsLong`)
    * and rebuilds the timestamp with integer ns→µs division (the testdata
    * has zero sub-µs precision, so this is lossless; double division would
    * corrupt ~1.7e18 epoch values).
    */
  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Catalog.forDir(sfDir).read(spark, name)

  /** Memoized row count of one logical table — the sizing input the
    * adaptive operators (bits-per-band, simhash block count, tf-idf's N)
    * read at plan-construction time. The binding is immutable for the life of a session (the
    * resolved-scan-memo invariant in [[Catalog.read]]), so the count is
    * SessionMemo'd per (session, path): ONE metadata-cheap count job the
    * first time any sizing rule asks, zero actions afterwards. This is
    * metadata reuse in the nodesWithCount/fingerprint discipline, not
    * result caching — consumers use the number only to pick operator
    * parameters; every query action still computes its
    * rows from the parquet inputs.
    */
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long =
    SessionMemo(spark, s"tabcount_${path(sfDir, name)}")(
      java.lang.Long.valueOf(read(spark, sfDir, name).count())).longValue
}
