package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured Streaming operators over the events stream (the driver's
  * `events` table is "a stream table" — TESTDATA.md). The reference engine is
  * bounded-batch only (its `Boundedness::Bounded`, SURVEY.md §1), so this
  * module is beyond-reference capability for the training-data pipeline: the
  * same transforms run `readStream → transform → writeStream` with
  * event-time watermarks, or over a batch DataFrame unchanged.
  *
  * Scale notes: both stateful operators key their state by the
  * high-cardinality user_id, so state partitions across executors; the
  * watermark bounds state size (expired sessions and join buffers are
  * dropped), which is what keeps a continuous 100 TB/day ingest from
  * accumulating unbounded state.
  */
object EventStreams {

  /** Session windows per user (built-in `session_window`, gap-based): a new
    * session starts when a user is idle longer than `gap`. Works identically
    * over batch and stream input.
    */
  def userSessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), gap).as("session"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("user_id"), col("session.start").as("session_start"),
        col("session.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Stream-STREAM interval join: each purchase matched to the same user's
    * clicks in the `horizon` before it (attribution). Both sides carry
    * watermarks and the join condition bounds the click's event time
    * relative to the purchase's, so Spark can expire buffered state on both
    * sides — the state-bounding contract a continuous ingest needs; without
    * the time bound, each side would buffer forever. Equi-key user_id keeps
    * the state shuffle-partitioned by user.
    */
  def clickToPurchaseJoin(
      clicks: DataFrame,
      purchases: DataFrame,
      horizon: String = "30 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
    p.join(c,
      col("c_user") === col("p_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $horizon"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("click_ts"), col("click_value"))
  }
}
