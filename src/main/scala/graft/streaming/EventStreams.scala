package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-time windowing plans over the `events` shape
  * (ts: timestamp, user_id: long, event_type: string, value: double).
  *
  * Each function is a pure DataFrame→DataFrame plan that works identically
  * in batch and in Structured Streaming — the point of Spark's unified
  * model. Batch mode makes them DuckDB-oracle-checkable ([[graft.queries
  * .Streaming]]); [[graft] test StreamingSpec] drives the same plans from a
  * MemoryStream with watermarks to prove the streaming semantics (late-data
  * drop, incremental state).
  *
  * Value sums go through DecimalType(18,6) so they are exact and
  * order-independent — mandatory under streaming where arrival order is
  * arbitrary, and what makes the batch oracle comparison exact.
  */
object EventStreams {

  private def exactSum(c: Column): Column =
    sum(c.cast(DecimalType(18, 6))).cast("double")

  /** Tumbling event-time windows per event type: the sliding aggregate
    * with slide = width, which Spark plans without the window-expanding
    * generator (the same optimized plan as `window(ts, width)`). */
  def tumbling(events: DataFrame, width: String): DataFrame =
    sliding(events, width, width)

  /** Sliding (hopping) event-time windows: every event lands in
    * width/slide overlapping windows; Spark expands them with a generator
    * before the aggregate, so the shuffle carries (windows-per-event ×
    * rows) — slide width is the fan-out knob at scale.
    */
  def sliding(events: DataFrame, width: String, slide: String): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"), exactSum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Per-user session windows with a fixed inactivity gap: an event at
    * ts < previous session end (= last ts + gap) extends the session;
    * ts ≥ end starts a new one. In streaming this is Spark's native
    * session_window state merge; in batch it compiles to a sort-based
    * merge within each user partition.
    */
  def sessions(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), exactSum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Watermarked tumbling aggregate for true streaming use: rows later
    * than `delay` behind the max seen event time are dropped and window
    * state is finalized/emitted once the watermark passes (append mode).
    */
  def tumblingWithWatermark(events: DataFrame, width: String, delay: String): DataFrame =
    tumbling(events.withWatermark("ts", delay), width)

  /** Streaming dedup on a business key bounded by the watermark —
    * the idempotence guard for at-least-once sources (e.g. the reference
    * pipeline's fire-and-forget Kafka producer, etl_dags.py:26-27): state
    * holds one entry per key only until the watermark passes it.
    */
  def dedupWithinWatermark(events: DataFrame, delay: String, keys: Seq[String]): DataFrame =
    events.withWatermark("ts", delay).dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
}
