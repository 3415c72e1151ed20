package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming twin of `q_click_view_join` (queries.AnalyticsQueries) —
  * Spark's NATIVE watermarked stream-stream inner join, the one dual-
  * stream operator the other twins (all single-stream stateful folds)
  * don't exercise: every click pairs with the same user's views from
  * the trailing hour, with both sides arriving as independent streams.
  *
  * State bound: both sides carry a 2-hour event-time watermark and the
  * join condition bounds click_ts to [view_ts, view_ts + 1h), so Spark
  * can evict any buffered view/click older than watermark − 1h — state
  * is O(events in the trailing ~3h window), never unbounded history.
  * That eviction is also the late-data contract: a row older than its
  * side's watermark may be dropped (`ClickViewJoinSpec` pins both the
  * in-order parity with the batch join and the eviction behavior).
  *
  * Scale shape: identical to the batch query — ONE shuffle of each side
  * on user_id; the range residual evaluates inside the join. No
  * driver-side state, no per-key history.
  */
object ClickViewJoin {

  /** View-side stream from an events-shaped frame
    * (event_id, ts, user_id, event_type).
    */
  def views(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("ts").as("view_ts"),
        col("user_id"))

  /** Click-side stream from an events-shaped frame. */
  def clicks(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("ts").as("click_ts"),
        col("user_id").as("click_user"))

  /** Watermarked stream-stream inner join: (user_id, view_id, view_ts,
    * click_id, click_ts), one row per view→click pair within 1 hour.
    */
  def pairs(views: DataFrame, clicks: DataFrame): DataFrame =
    views.withWatermark("view_ts", "2 hours")
      .join(clicks.withWatermark("click_ts", "2 hours"),
        expr("user_id = click_user" +
          " AND view_ts <= click_ts" +
          " AND click_ts < view_ts + INTERVAL 1 HOUR"))
      .select(col("user_id"), col("view_id"), col("view_ts"),
        col("click_id"), col("click_ts"))
}
