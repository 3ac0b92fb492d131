package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar cleaning layer (reference §2.7): pure `Column` builders so every
  * function stays inside whole-stage codegen — the reference runs these as
  * per-row Python lambdas (its main CPU bottleneck, SURVEY §4), which Spark
  * replaces wholesale with vectorized expressions.
  */
object Normalize {

  /** F1 `normalize_strings` (reference `etl/core/utils.py:10-16`): null→"",
    * cast to string, trim, lower. Nulls MUST fold to "" before hashing or
    * joining so that null and empty collide by design (utils.py:15).
    */
  def normalizeCol(c: Column): Column =
    lower(trim(coalesce(c.cast("string"), lit(""))))

  /** Apply F1 to each listed column that is present (skip-if-absent guard,
    * utils.py:12).
    */
  def normalizeStrings(df: DataFrame, cols: Seq[String]): DataFrame = {
    val present = cols.filter(df.columns.contains)
    present.foldLeft(df)((d, name) => d.withColumn(name, normalizeCol(col(name))))
  }

  /** F7 `pd.to_numeric(errors="coerce")`: non-ANSI cast → null on garbage
    * (reference `etl/dim_loaders/violation_loader.py:25-31`,
    * `location_loader.py:39-40`).
    */
  def toLong(c: Column): Column = c.cast("long")
  def toDouble(c: Column): Column = c.cast("double")

  /** F9 categorical Yes/No → boolean, null for anything else
    * (reference `etl/dim_loaders/vehicle_loader.py:29`).
    */
  def yesNo(c: Column): Column =
    when(c === "Yes", lit(true)).when(c === "No", lit(false))
}
