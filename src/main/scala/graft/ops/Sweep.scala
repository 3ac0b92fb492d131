package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sweep-line operators over interval data (SURVEY §2.4 "not present"
  * class — peak-concurrency is the canonical capacity-planning query over
  * any sessionized event stream).
  *
  * The running interval count is a DISTRIBUTED TWO-PHASE PREFIX SUM — the
  * textbook parallel-scan algorithm expressed in DataFrames:
  *   phase 1: per hour-bucket boundary sums (one map-side-combined
  *            aggregate; |buckets| rows — TIME-span-bounded, not
  *            data-bounded: a decade of hours is ~87k rows);
  *   phase 2: per-bucket carry-ins via a window over that tiny frame,
  *            broadcast back; the data-sized running sum is then a window
  *            PARTITIONED BY bucket, so every hour scans independently —
  *            no single-partition global window ever touches the
  *            boundary-mass frame.
  * Ordering at equal t processes −1 before +1 (d ascending ⇒ half-open
  * [start, end) intervals), and both engines' default RANGE frame
  * collapses (t, d) ties to the tie-group-end value, so the per-row run
  * is engine-identical regardless of intra-tie row order.
  *
  * The per-bucket scan result (ds = Σd, maxpref = max prefix sum, nb =
  * row count) is a MONOID element — combine((s₁,m₁),(s₂,m₂)) =
  * (s₁+s₂, max(m₁, s₁+m₂)) — so phase 2 needs only the |buckets|-row
  * frame, never the boundary rows.
  */
object Sweep {

  val HourUs = 3600000000L

  /** ±1 boundary rows from the event intervals [ts, ts + max(1, ⌊value⌋)
    * seconds): (t micros, d, bucket). FLOOR division, not `div`: `div`
    * truncates toward zero, so a pre-1970 timestamp (negative micros)
    * would land one bucket high while the DuckDB mirror's `//` floors —
    * (t − pmod(t, H)) is an exact multiple of H, where truncation ≡ floor
    * for any sign.
    */
  private def boundaries(events: DataFrame): DataFrame = {
    val ev = events
      .select(unix_micros(col("ts")).as("st"),
        (unix_micros(col("ts")) +
          greatest(lit(1L), floor(col("value")).cast("long")) * lit(1000000L))
          .as("en"))
    ev.select(explode(array(
        struct(col("st").as("t"), lit(1L).as("d")),
        struct(col("en").as("t"), lit(-1L).as("d")))).as("b"))
      .select(col("b.t").as("t"), col("b.d").as("d"))
      .withColumn("bucket", expr(s"(t - pmod(t, $HourUs)) div $HourUs"))
  }

  /** Phase-1 scan: one monoid row per bucket — (bucket, ds = Σd,
    * maxpref = max over the (t, d)-ordered prefix sums, nb = boundary
    * count). The within-bucket window is PARTITIONED BY bucket (parallel).
    */
  private def perBucketScan(bounds: DataFrame): DataFrame = {
    val wRun = Window.partitionBy("bucket").orderBy("t", "d")
    bounds
      .withColumn("runl", sum(col("d")).over(wRun))
      .groupBy("bucket")
      .agg(sum(col("d")).as("ds"), max(col("runl")).as("maxpref"),
        count(lit(1)).as("nb"))
  }

  /** Phase-2 assembly over the |buckets|-row monoid frame: carry-in per
    * bucket (prefix sums of ds), hour peak = carry + max(0, maxpref).
    */
  private def finalizeConcurrency(perBucket: DataFrame): DataFrame = {
    val wOff = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    perBucket
      .withColumn("carry", coalesce(sum(col("ds")).over(wOff), lit(0L)))
      .select(timestamp_micros(col("bucket") * lit(HourUs)).as("hour_start"),
        (col("carry") + greatest(lit(0L), col("maxpref"))).as("peak"),
        col("nb").as("n_boundaries"))
      .orderBy("hour_start")
  }

  /** Peak concurrent intervals per hour. Each event row opens an interval
    * [ts, ts + max(1, ⌊value⌋) seconds); output is one row per hour with
    * ≥1 boundary: (hour_start, peak, n_boundaries). An hour's peak is
    * carry + max(0, maxpref) — pure carry covers an hour whose maximum
    * concurrency was inherited from the previous hour's close.
    */
  def hourlyConcurrency(events: DataFrame): DataFrame =
    finalizeConcurrency(perBucketScan(boundaries(events)))
}
