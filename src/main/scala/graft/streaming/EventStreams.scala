package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events stream (the driver's
  * `events` table is "a stream table" — TESTDATA.md). The reference engine is
  * bounded-batch only (its `Boundedness::Bounded`, SURVEY.md §1), so this
  * module is beyond-reference capability for the training-data pipeline: the
  * same transforms run `readStream → transform → writeStream` with
  * event-time watermarks, or over a batch DataFrame unchanged.
  *
  * Scale notes: all stateful operators key their state by a high-cardinality
  * column (user_id / event_id), so state partitions across executors; the
  * watermark bounds state size (expired windows/sessions/dedup keys are
  * dropped), which is what keeps a continuous 100 TB/day ingest from
  * accumulating unbounded state. The one exception is [[runningUserTotals]]
  * — a running total cannot expire without losing it, so its default state
  * is bounded by distinct-key cardinality instead; its `idleTimeout` opts
  * into time-bounded eviction (see its doc for the trade).
  */
object EventStreams {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

  case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** Event-time tumbling-window counts with a watermark: late events beyond
    * `lateness` are dropped and closed windows are emitted exactly once in
    * append mode.
    */
  def windowedCounts(
      events: DataFrame,
      windowLength: String = "1 hour",
      lateness: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", lateness)
      // group by the window STRUCT — extracting .start before the groupBy
      // would sever the watermark linkage the append-mode check needs
      .groupBy(window(col("ts"), windowLength).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))

  /** Exactly-once streaming dedup on event_id within the watermark horizon —
    * the streaming form of the pipeline's exact dedup; state for ids older
    * than the watermark is dropped.
    */
  def dedupedEvents(events: DataFrame, lateness: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", lateness).dropDuplicatesWithinWatermark("event_id")

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
      horizon: String = "30 minutes",
      lateness: String = "10 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", lateness)
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("value").as("click_value"))
    val p = purchases.withWatermark("ts", lateness)
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
    p.join(c,
      col("c_user") === col("p_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $horizon"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("click_ts"), col("click_value"))
  }

  /** Custom keyed state via flatMapGroupsWithState: a per-user running
    * (count, total) emitted on every update — the arbitrary-state hook for
    * logic session_window can't express.
    *
    * State-size honesty (the one operator here the WATERMARK does not
    * bound): a running total can only expire by losing it, so by default
    * state is bounded by DISTINCT-USER cardinality, not time. For an
    * open-world key domain (e.g. totals per client IP on a continuous
    * ingest) pass `idleTimeout` — the input must carry a watermark on
    * `ts`, and a user idle past the horizon has their state DROPPED
    * (their next event starts a fresh total, which is the trade an
    * eviction policy means).
    */
  def runningUserTotals(
      events: Dataset[Event],
      idleTimeout: Option[String] = None): Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    val timeoutConf = if (idleTimeout.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, timeoutConf)(
        (user: Long, batch: Iterator[Event], state: GroupState[UserRunning]) => {
          if (state.hasTimedOut) {
            // idle past the horizon: evict; nothing to emit for a user
            // with no new events
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(UserRunning(user, 0L, 0.0))
            var n = prev.n_events
            var total = prev.total_value
            var maxTs = Long.MinValue
            batch.foreach { e =>
              n += 1; total += e.value
              if (e.ts != null) maxTs = math.max(maxTs, e.ts.getTime)
            }
            val next = UserRunning(user, n, math.round(total * 100).toDouble / 100)
            state.update(next)
            idleTimeout.foreach { horizon =>
              if (maxTs != Long.MinValue) state.setTimeoutTimestamp(
                maxTs, horizon) // event-time + horizon, capped by watermark
              else state.setTimeoutTimestamp(
                // a batch with events but NO usable event time must still
                // REFRESH the horizon — leaving a previously-set stale
                // timestamp in place would evict a key that was JUST
                // active and silently restart its total (r19 advice);
                // the watermark is the freshest time the engine vouches
                // for, so idle-ness counts from there
                math.max(state.getCurrentWatermarkMs(), 0L), horizon)
            }
            Iterator(next)
          }
        })
  }
}
