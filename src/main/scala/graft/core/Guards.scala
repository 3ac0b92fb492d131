package graft.core

import org.apache.spark.sql.DataFrame

/** Structural guards (reference §2.2 P1): schema-flexible projection. A
  * driver-side schema check (`df.columns`), not row-level work — zero
  * runtime cost at scale.
  */
object Guards {

  /** P1: select exactly the target columns, intersected with what is
    * actually present (reference `load_311.py:109-110`, `main.py:145`).
    * Keeps column pruning explicit so the parquet scan's ReadSchema stays
    * minimal even before Catalyst pruning runs.
    */
  def selectAvailable(df: DataFrame, cols: Seq[String]): DataFrame = {
    val present = cols.filter(df.columns.contains)
    df.select(present.map(df.col): _*)
  }
}
