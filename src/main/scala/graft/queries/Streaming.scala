package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables._
import graft.streaming.EventStreams

/** Batch-mode registrations of the streaming window plans (SURVEY.md §2.4
  * streaming row). `window()` / `session_window()` evaluate identically in
  * batch and streaming, so running them over the `events` parquet makes
  * the semantics DuckDB-oracle-checkable; true-streaming behavior
  * (watermarks, late drop, incremental state) is covered by StreamingSpec
  * driving the same [[graft.streaming.EventStreams]] plans from a
  * MemoryStream.
  */
object Streaming {

  /** q27: per-user session windows, 30-minute inactivity gap. Oracle uses
    * the classic gaps-and-islands rewrite: a new session starts when the
    * gap from the previous event is ≥ the timeout (Spark sessions are
    * half-open [start, last+gap)); session end = last event + gap.
    */
  def q27SessionWindow(s: SparkSession, dir: String): DataFrame =
    EventStreams.sessions(events(s, dir), "30 minutes")
      .orderBy(col("user_id"), col("s_start"))

  val q27Sql: String =
    s"""WITH ${sessionSqlCtes("ts, value", "ts")}
      |SELECT min(ts) AS s_start, max(ts) + INTERVAL '30 minutes' AS s_end,
      | user_id, CAST(count(*) AS BIGINT) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM g GROUP BY user_id, grp
      |ORDER BY user_id, s_start""".stripMargin

  /** q28: sliding windows, 1 hour wide hopping every 15 minutes — each
    * event contributes to exactly 4 windows. Oracle expands the 4 window
    * starts per event (time_bucket minus k·15min) and re-aggregates.
    */
  def q28SlidingWindow(s: SparkSession, dir: String): DataFrame =
    EventStreams.sliding(events(s, dir), "1 hour", "15 minutes")
      .orderBy(col("w_start"), col("event_type"))

  val q28Sql: String =
    """WITH x AS (
      |  SELECT time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes' AS w_start,
      |   event_type, value
      |  FROM events, unnest(range(0, 4)) AS u(k))
      |SELECT w_start, event_type, CAST(count(*) AS BIGINT) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM x GROUP BY w_start, event_type
      |ORDER BY w_start, event_type""".stripMargin

  /** Session inactivity gap for q72, microseconds (30 minutes — the q27
    * convention).
    */
  final val GapUs = 30L * 60L * 1000000L

  /** DuckDB twin of the [[GapUs]] sessionization (gaps and islands): CTE
    * `o` carries `cols` of each event and flags `new_s` where the gap from
    * the user's previous event in `order` reaches the timeout; CTE `g`
    * numbers the user's sessions as the running sum `grp`. Place inside a
    * `WITH`. */
  def sessionSqlCtes(cols: String, order: String): String =
    s"""o AS (
       |  SELECT user_id, $cols,
       |   CASE WHEN lag(ts) OVER w IS NULL
       |         OR ts - lag(ts) OVER w >= INTERVAL '${GapUs / 60000000L} minutes' THEN 1 ELSE 0 END AS new_s
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY $order)),
       |g AS (
       |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY $order
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
       |  FROM o)""".stripMargin

  /** q72: typed-API sessionization — the `Dataset[T].groupByKey.
    * flatMapGroups` surface, for per-key logic `session_window` can't
    * express in one pass: each user's events are walked in time order and
    * labeled with a 1-based session index (new session when the gap from
    * the previous event reaches [[GapUs]], matching q27's half-open
    * semantics), then per-session analytics (span, distinct event types,
    * exact value sum) aggregate DataFrame-side.
    *
    * Scale design: the typed stage shuffles once on user_id and emits one
    * labeled row per event — state per task is one user's events (the
    * same bound `session_window`'s sort-merge needs), and everything
    * downstream is ordinary partial-aggregating hash aggregation on
    * (user, session) keys, which only narrows the exchange. The in-memory
    * sort inside a group is per-user, never global.
    */
  def q72TypedSessionize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val labeled = events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"), col("value"))
      .as[(Long, Long, Long, String, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (uid, it) =>
        // event_id tiebreak makes the walk order total; equal-ts ties
        // can't open a session (gap 0 < GapUs) so labels are order-stable
        val evs = it.toArray.sortBy(e => (e._2, e._3))
        var idx = 0L
        var prevTs = Long.MinValue
        evs.iterator.map { e =>
          if (prevTs == Long.MinValue || e._2 - prevTs >= GapUs) idx += 1
          prevTs = e._2
          (uid, idx, e._2, e._4, e._5)
        }
      }
      .toDF("user_id", "session_idx", "ts_us", "event_type", "value")
    labeled
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("last_us"),
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"))
      .select(col("user_id"), col("session_idx"),
        timestamp_micros(col("start_us")).as("s_start"),
        timestamp_micros(col("last_us")).as("s_last"),
        (col("last_us") - col("start_us")).as("duration_us"),
        col("n_events"), col("n_types"), col("sum_value"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  val q72Sql: String =
    s"""WITH ${sessionSqlCtes("ts, event_type, value", "ts")}
      |SELECT user_id, CAST(grp AS BIGINT) AS session_idx,
      | min(ts) AS s_start, max(ts) AS s_last,
      | date_diff('microsecond', min(ts), max(ts)) AS duration_us,
      | CAST(count(*) AS BIGINT) AS n_events,
      | CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
      | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM g GROUP BY user_id, grp
      |ORDER BY user_id, session_idx""".stripMargin

  // ---------------------------------------------------------------- q135

  /** q135: inter-arrival GAP histogram — the calibration pass behind
    * every streaming-config constant this engine uses. q27's 30-minute
    * session gap and a `withWatermark` delay are tuning knobs; the
    * defensible way to set them is the distribution of per-user gaps
    * between consecutive events: the session timeout wants the valley
    * between the intra-session mass and the between-session tail, and a
    * watermark wants a high quantile of expected disorder. This emits
    * that distribution as a fixed 7-bucket histogram (<1m, 1–5m, 5–15m,
    * 15–30m, 30–60m, 1–3h, ≥3h) with per-bucket share and CUMULATIVE
    * share — read the cum_share column at the bucket you'd cut.
    *
    * Scale shape: one user_id-partitioned lag window over the event
    * stream (the only event-sized pass — checkpointed once, then every
    * consumer below re-aggregates the 7-row domain from it); the
    * cumulative share uses the same bounded-inequality-join idiom as
    * q132's month offsets (build side is an aggregate over the bucket
    * domain — never a global ordered window); the total rides q125's
    * broadcast 1-row frame pattern.
    */
  def q135GapHistogram(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gaps = events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("gap_s",
        (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
          .cast("double") / 1e6)
      .filter(col("gap_s").isNotNull)
      .select(
        when(col("gap_s") < 60, 0).when(col("gap_s") < 300, 1)
          .when(col("gap_s") < 900, 2).when(col("gap_s") < 1800, 3)
          .when(col("gap_s") < 3600, 4).when(col("gap_s") < 10800, 5)
          .otherwise(6).as("bucket"))
      .localCheckpoint(true) // one event-sized window pass; 3 consumers below
    def hist: DataFrame =
      gaps.groupBy(col("bucket")).agg(count(lit(1)).as("n_gaps"))
    val total = hist.agg(sum(col("n_gaps")).as("total"))
    val cum = hist.select(col("bucket"))
      .join(hist.select(col("bucket").as("p_bucket"), col("n_gaps").as("p_n")),
        col("p_bucket") <= col("bucket"))
      .groupBy(col("bucket")).agg(sum(col("p_n")).as("cum_gaps"))
    hist.join(cum, Seq("bucket")).crossJoin(broadcast(total))
      .select(col("bucket"),
        when(col("bucket") === 0, "lt_1m").when(col("bucket") === 1, "1_5m")
          .when(col("bucket") === 2, "5_15m").when(col("bucket") === 3, "15_30m")
          .when(col("bucket") === 4, "30_60m").when(col("bucket") === 5, "1_3h")
          .otherwise("ge_3h").as("gap_bucket"),
        col("n_gaps"),
        round(col("n_gaps") / col("total"), 6).as("share"),
        round(col("cum_gaps") / col("total"), 6).as("cum_share"))
      .orderBy(col("bucket"))
  }

  val q135Sql: String =
    """WITH g AS (
      |  SELECT (epoch_us(ts) - epoch_us(lag(ts) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id))) / 1000000.0 AS gap_s
      |  FROM events),
      |b AS (
      |  SELECT CASE WHEN gap_s < 60 THEN 0 WHEN gap_s < 300 THEN 1
      |    WHEN gap_s < 900 THEN 2 WHEN gap_s < 1800 THEN 3
      |    WHEN gap_s < 3600 THEN 4 WHEN gap_s < 10800 THEN 5
      |    ELSE 6 END AS bucket
      |  FROM g WHERE gap_s IS NOT NULL),
      |h AS (SELECT CAST(bucket AS INT) AS bucket, CAST(count(*) AS BIGINT) AS n_gaps
      |      FROM b GROUP BY 1)
      |SELECT bucket,
      | CASE bucket WHEN 0 THEN 'lt_1m' WHEN 1 THEN '1_5m' WHEN 2 THEN '5_15m'
      |   WHEN 3 THEN '15_30m' WHEN 4 THEN '30_60m' WHEN 5 THEN '1_3h'
      |   ELSE 'ge_3h' END AS gap_bucket,
      | n_gaps,
      | ROUND(CAST(n_gaps AS DOUBLE) / SUM(n_gaps) OVER (), 6) AS share,
      | ROUND(CAST(SUM(n_gaps) OVER (ORDER BY bucket) AS DOUBLE)
      |       / SUM(n_gaps) OVER (), 6) AS cum_share
      |FROM h ORDER BY bucket""".stripMargin
}
