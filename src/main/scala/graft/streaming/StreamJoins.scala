package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Watermarked click→purchase interval join, written in the shape of a
  * stream-stream join (Structured Streaming's stateful two-input operator)
  * and declared through its batch face [[clickPurchaseBatch]].
  */
object StreamJoins {

  private def side(raw: DataFrame, tpe: String, a: String): DataFrame =
    raw.filter(col("event_type") === tpe)
      .select(col("user_id").as(s"${a}_user"), col("ts").as(s"${a}_ts"),
        col("event_id").as(s"${a}_id"))
      // Watermark bounds the join state: with the time-range predicate
      // below, Spark evicts a click once the purchase-side watermark
      // passes click_ts + 10 min — state is O(events in the window),
      // never the whole stream.
      .withWatermark(s"${a}_ts", "20 minutes")

  /** Purchases within 10 minutes after a click by the same user. */
  def clickPurchaseBatch(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.read(spark, dir, "events")
    side(raw, "click", "c").join(side(raw, "purchase", "p"),
      expr("""c_user = p_user AND
             |p_ts >= c_ts AND p_ts <= c_ts + interval 10 minutes""".stripMargin))
      .select(col("c_user").as("user_id"), col("c_id"), col("p_id"))
  }
}
