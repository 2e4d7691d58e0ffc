package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Det.centsSum

/** Event-stream batch analytics: sessionization, tumbling windows, funnels.
  * All operate on the [[graft.sources.Tables.events]] frame (ts_s = exact
  * epoch seconds). One shuffle each (by user / by group); window orderings
  * are made total with event_id tiebreaks so results are partition-invariant.
  */
object Sessions {

  /** Gap-based sessionization (30-min inactivity): lag → new-session flag →
    * running count = session seq → per-session aggregates. */
  def sessionize(events: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("prev_ts", lag(col("ts_s"), 1).over(byUser))
      .withColumn("is_new",
        when(col("prev_ts").isNull || col("ts_s") - col("prev_ts") > gapSeconds, 1)
          .otherwise(0))
      .withColumn("sess_seq", sum(col("is_new")).over(run))
      .groupBy(col("user_id"), col("sess_seq"))
      .agg(
        min(col("ts_s")).as("session_start"),
        max(col("ts_s")).as("session_end"),
        count(lit(1)).as("n_events"),
        centsSum(col("value")).as("total_value"),
      )
  }

  /** Sessionization via Spark's NATIVE `session_window` aggregate — same
    * semantics as [[sessionize]] but as ONE groupBy (the planner merges
    * overlapping gap-windows per key internally) instead of lag + two
    * window passes; this is also the form that runs unchanged as a
    * streaming query with watermark-driven state eviction. session_window's
    * `end` is last-event + gap, and Spark MERGES on a touching boundary
    * (an event at exactly `prev + gap` joins the session), which is
    * precisely the lag rule's `diff > gap` split — verified off-by-one
    * both ways at sf0.01 before settling on the plain gap here. The end
    * column subtracts the gap back to report the last event time
    * (oracle-shared with sessionize). */
  def sessionWindowAgg(events: DataFrame, gapSeconds: Long = 1800): DataFrame =
    events
      .groupBy(col("user_id"),
               session_window(col("ts"), s"$gapSeconds seconds").as("w"))
      .agg(count(lit(1)).as("n_events"),
           centsSum(col("value")).as("total_value"))
      .select(col("user_id"),
        col("w.start").cast("long").as("session_start"),
        (col("w.end").cast("long") - gapSeconds).as("session_end"),
        col("n_events"), col("total_value"))

  /** Event-time tumbling window (1h) aggregation — the batch twin of the
    * Structured Streaming version in streaming/StreamOps. */
  def tumbling(events: DataFrame, widthSeconds: Long = 3600): DataFrame =
    events
      .withColumn("window_start", col("ts_s") - col("ts_s") % widthSeconds)
      .groupBy(col("event_type"), col("window_start"))
      .agg(count(lit(1)).as("n_events"),
           centsSum(col("value")).as("total_value"))

  /** signup→purchase funnel per user: first signup, first purchase at/after
    * it, conversion flag + latency. Two small aggregates + one join. */
  def funnel(events: DataFrame): DataFrame = {
    val signups = events.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_s")).as("signup_ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts_s").as("p_ts"))
    signups
      .join(purchases, col("user_id") === col("p_user") && col("p_ts") >= col("signup_ts"), "left")
      .groupBy(col("user_id"), col("signup_ts"))
      .agg(min(col("p_ts")).as("first_purchase_ts"))
      .select(col("user_id"), col("signup_ts"), col("first_purchase_ts"),
              col("first_purchase_ts").isNotNull.as("converted"),
              (col("first_purchase_ts") - col("signup_ts")).as("seconds_to_convert"))
  }
}
