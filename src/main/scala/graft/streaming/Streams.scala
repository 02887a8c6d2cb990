package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming operators (SURVEY §2B B35–B36), written as plain
  * DataFrame→DataFrame transforms so the SAME code runs on a batch frame and
  * on a `readStream`/MemoryStream frame — batch results double as the oracle
  * for the streaming path (tested in StreamingSpec).
  *
  * Scale posture: all aggregations key on (window/session, group) so state
  * is partitioned by group key across executors; watermarks bound state
  * size.
  */
object Streams {

  /** Every watermark this module declares routes through here so the
    * session-level [[WatermarkDropGuard]] is auto-installed (opt-out via
    * `spark.graft.streaming.autoDropGuard=false`): a watermark is where
    * silent late-drops become possible, so attaching the detector is part
    * of declaring one. Batch frames (the oracle-parity twins) skip the
    * install — no streaming listener events exist to observe.
    */
  private[graft] def wm[T](ds: Dataset[T], tsCol: String, delay: String): Dataset[T] = {
    if (ds.isStreaming) WatermarkDropGuard.ensureInstalled(ds.sparkSession)
    ds.withWatermark(tsCol, delay)
  }

  /** B35 — tumbling-window counts per event type. */
  def tumblingCounts(events: DataFrame, size: String = "10 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), size).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))

  /** B35 — sliding-window counts (each event lands in size/slide windows). */
  def slidingCounts(
      events: DataFrame,
      size: String = "10 minutes",
      slide: String = "5 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), size, slide).as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("n"))

  /** B36 — session windows with a fixed inactivity gap, per user. */
  def sessionStats(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("user_id"), col("w.start").as("s_start"), col("w.end").as("s_end"),
        col("n_events"), col("sum_value"))

  /** Stream-stream inner join: match each purchase to the clicks of the
    * same user in the preceding hour. Both sides are watermarked so Spark
    * can bound the join state buffers (the unbounded-state trap of
    * stream-stream joins); the time-range predicate lets late state expire.
    */
  def clickToPurchase(
      clicks: DataFrame,
      purchases: DataFrame,
      delay: String = "10 minutes"): DataFrame = {
    val c = wm(clicks, "ts", delay)
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"), col("ts").as("c_ts"))
    val p = wm(purchases, "ts", delay)
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
    c.join(p,
      col("c_user") === col("p_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"))
  }
}
