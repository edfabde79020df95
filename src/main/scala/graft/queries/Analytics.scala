package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._

/** Event-stream product analytics (SURVEY.md §2.4 extension surface): the
  * sequential-behavior reports — funnel conversion and cohort retention —
  * that the reference's flat ETL cannot express but any analytics engine
  * over an events table must. Both are pure composition of aggregates and
  * equi-joins keyed on `user_id`: each stage shuffles on the same key, so
  * at cluster scale the per-user frames co-partition and the joins are
  * zero-exchange after the first aggregation.
  */
object Analytics {

  /** The funnel's ordered steps (event types from the fixtures). */
  val FunnelSteps: Seq[String] = Seq("signup", "click", "purchase")

  /** q77: sequential funnel conversion — users who signed up, then clicked
    * strictly after their first signup, then purchased strictly after that
    * first qualifying click, with step-over-step and step-over-first
    * conversion rates. The ORDER of events matters (a purchase before the
    * click doesn't count), which is what separates a funnel from three
    * count-distincts.
    *
    * Plan: one aggregate per step over the step-filtered events (filter
    * pushed to the scan), each joined to the previous step's per-user
    * first-qualifying timestamp; every shuffle is keyed on `user_id`. The
    * three 1-row step counts cross-join broadcast-style and the 3-row
    * report is generated by exploding a literal array — no unpartitioned
    * window anywhere.
    */
  def q77EventFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
    val s1 = ev.filter(col("event_type") === FunnelSteps(0))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = ev.filter(col("event_type") === FunnelSteps(1)).join(s1, Seq("user_id"))
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = ev.filter(col("event_type") === FunnelSteps(2)).join(s2, Seq("user_id"))
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    val counts = s1.agg(count(lit(1)).as("n1"))
      .crossJoin(s2.agg(count(lit(1)).as("n2")))
      .crossJoin(s3.agg(count(lit(1)).as("n3")))
    // Empty-step guard: Spark double division by 0 yields NaN/Infinity
    // while DuckDB SQL division yields NULL — rate over an empty
    // denominator must be NULL in BOTH engines (NULLIF in the oracle)
    def rate(num: Column, den: Column): Column =
      when(den > 0, round(num.cast("double") / den, 6))
    counts.select(explode(array(
      struct(lit(1).as("step"), lit(FunnelSteps(0)).as("event_type"),
        col("n1").as("n_users"),
        lit(1.0).as("conv_from_prev"), lit(1.0).as("conv_from_first")),
      struct(lit(2).as("step"), lit(FunnelSteps(1)).as("event_type"),
        col("n2").as("n_users"),
        rate(col("n2"), col("n1")).as("conv_from_prev"),
        rate(col("n2"), col("n1")).as("conv_from_first")),
      struct(lit(3).as("step"), lit(FunnelSteps(2)).as("event_type"),
        col("n3").as("n_users"),
        rate(col("n3"), col("n2")).as("conv_from_prev"),
        rate(col("n3"), col("n1")).as("conv_from_first"))))
      .as("r"))
      .select(col("r.step").as("step"), col("r.event_type").as("event_type"),
        col("r.n_users").as("n_users"), col("r.conv_from_prev").as("conv_from_prev"),
        col("r.conv_from_first").as("conv_from_first"))
      .orderBy(col("step"))
  }

  val q77Sql: String =
    s"""WITH s1 AS (
       |  SELECT user_id, min(ts) AS t1 FROM events
       |  WHERE event_type = '${FunnelSteps(0)}' GROUP BY user_id),
       |s2 AS (
       |  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 ON e.user_id = s1.user_id
       |  WHERE e.event_type = '${FunnelSteps(1)}' AND e.ts > s1.t1 GROUP BY e.user_id),
       |s3 AS (
       |  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 ON e.user_id = s2.user_id
       |  WHERE e.event_type = '${FunnelSteps(2)}' AND e.ts > s2.t2 GROUP BY e.user_id),
       |n AS (
       |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n1,
       |   (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n2,
       |   (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n3)
       |SELECT * FROM (
       |  SELECT CAST(1 AS INTEGER) AS step, '${FunnelSteps(0)}' AS event_type,
       |   n1 AS n_users, CAST(1.0 AS DOUBLE) AS conv_from_prev,
       |   CAST(1.0 AS DOUBLE) AS conv_from_first FROM n
       |  UNION ALL
       |  SELECT CAST(2 AS INTEGER), '${FunnelSteps(1)}', n2,
       |   ROUND(CAST(n2 AS DOUBLE) / NULLIF(n1, 0), 6),
       |   ROUND(CAST(n2 AS DOUBLE) / NULLIF(n1, 0), 6) FROM n
       |  UNION ALL
       |  SELECT CAST(3 AS INTEGER), '${FunnelSteps(2)}', n3,
       |   ROUND(CAST(n3 AS DOUBLE) / NULLIF(n2, 0), 6),
       |   ROUND(CAST(n3 AS DOUBLE) / NULLIF(n1, 0), 6) FROM n)
       |ORDER BY step""".stripMargin

  /** q78: weekly cohort retention — users cohorted by the ISO week of
    * their first event; for each (cohort, week-offset) cell, how many of
    * the cohort's users were active that week and what fraction of the
    * cohort that is. The classic retention triangle.
    *
    * Plan: first-event aggregate and distinct (user, week) activity both
    * shuffle on `user_id`, so their join co-partitions; the cell aggregate
    * is keyed by (cohort, offset) — calendar-bounded cardinality — and
    * cohort sizes broadcast back. Offsets divide exactly by 7 (both sides
    * are week-truncated midnights), so the integer week arithmetic is
    * exact in both engines.
    */
  def q78RetentionCohort(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("user_id"), col("ts"))
    val cohort = ev.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    val active = ev.select(col("user_id"), date_trunc("week", col("ts")).as("w")).distinct()
    val cells = cohort.join(active, Seq("user_id"))
      .select(col("cohort_week"),
        (datediff(col("w"), col("cohort_week")) / lit(7)).cast("long").as("week_offset"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = cohort.groupBy(col("cohort_week")).agg(count(lit(1)).as("cohort_n"))
    cells.join(broadcast(sizes), Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        round(col("n_active").cast("double") / col("cohort_n"), 6).as("retention"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  val q78Sql: String =
    """WITH f AS (
      |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
      |  FROM events GROUP BY user_id),
      |a AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS w
      |  FROM events),
      |cells AS (
      |  SELECT cohort_week,
      |   CAST((CAST(w AS DATE) - CAST(cohort_week AS DATE)) / 7 AS BIGINT) AS week_offset,
      |   CAST(count(*) AS BIGINT) AS n_active
      |  FROM f JOIN a ON f.user_id = a.user_id
      |  GROUP BY 1, 2),
      |sz AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_n FROM f GROUP BY 1)
      |SELECT cells.cohort_week AS cohort_week, week_offset, n_active,
      | ROUND(CAST(n_active AS DOUBLE) / cohort_n, 6) AS retention
      |FROM cells JOIN sz ON cells.cohort_week = sz.cohort_week
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** q89: event-type transition matrix — first-order Markov statistics of
    * user behavior: for every ordered pair of consecutive event types
    * within a user's timeline, the transition count and the conditional
    * probability P(next | prev). The funnel (q77) checks ONE prescribed
    * path; this reports every observed path edge, which is how the
    * prescribed path gets chosen in the first place.
    *
    * Plan: one `lag` window partitioned by `user_id` — millions of small
    * partitions, the scale-safe window shape (contrast the q50/q88 notes
    * on few-key windows) — then a type-pair hash aggregate whose
    * cardinality is |event_types|², and per-prev totals joined back on
    * the tiny aggregated frame. Ordering ties break on `event_id`, so the
    * chain is total-ordered and deterministic in both engines.
    */
  def q89EventTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val c = events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = c.groupBy(col("prev_type")).agg(sum(col("n")).as("tot"))
    c.join(broadcast(totals), Seq("prev_type"))
      .select(col("prev_type"), col("next_type"), col("n"),
        round(col("n").cast("double") / col("tot").cast("double"), 6).as("prob"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  val q89Sql: String =
    """WITH o AS (
      |  SELECT event_type,
      |   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events),
      |c AS (
      |  SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
      |  FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY prev_type)
      |SELECT c.prev_type AS prev_type, next_type, n,
      | ROUND(CAST(n AS DOUBLE) / tot, 6) AS prob
      |FROM c JOIN t ON c.prev_type = t.prev_type
      |ORDER BY prev_type, next_type""".stripMargin

  /** Trailing window width (observed days) and z threshold for q90. */
  val AnomalyWindow: Int = 7
  val AnomalyZ: Double = 2.0

  /** q90: daily event-volume anomaly — for each (event type, day), the
    * day's event count against the trailing [[AnomalyWindow]]-day mean and
    * standard deviation, with a z-score fence. This is the monitoring
    * query a pipeline runs on its own ingest volumes; days without a full
    * trailing window (or with zero variance) are excluded rather than
    * scored against garbage.
    *
    * Scale shape: the corpus-sized event stream collapses to a
    * (type, day) hash aggregate FIRST — the window then runs over a frame
    * bounded by calendar × type cardinality, partitioned by type, never
    * over raw events. The anomaly flag compares the ROUNDED z-score:
    * unlike the exact integer-ratio fences (q70/q88), mean/stddev here
    * are engine-computed doubles that agree to ~1e-12 but not bitwise, so
    * the 4dp-rounded value is the deterministic comparand in both
    * engines.
    */
  def q90VolumeAnomaly(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-AnomalyWindow, -1)
    val z = round((col("n").cast("double") - col("mu")) / col("sd"), 4)
    daily
      .withColumn("n_prior", count(col("n")).over(w))
      .withColumn("mu", avg(col("n")).over(w))
      .withColumn("sd", stddev_samp(col("n")).over(w))
      .filter(col("n_prior") === AnomalyWindow && col("sd") > 0)
      .select(col("event_type"), col("day"), col("n"),
        round(col("mu"), 4).as("mu7"), round(col("sd"), 4).as("sd7"),
        z.as("z"), (abs(z) > AnomalyZ).as("anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  val q90Sql: String =
    s"""WITH d AS (
       |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       |   CAST(count(*) AS BIGINT) AS n
       |  FROM events GROUP BY 1, 2),
       |s AS (
       |  SELECT event_type, day, n,
       |   count(n) OVER w AS n_prior, avg(n) OVER w AS mu, stddev_samp(n) OVER w AS sd
       |  FROM d
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day
       |    ROWS BETWEEN $AnomalyWindow PRECEDING AND 1 PRECEDING))
       |SELECT event_type, day, n, ROUND(mu, 4) AS mu7, ROUND(sd, 4) AS sd7,
       | ROUND((n - mu) / sd, 4) AS z,
       | abs(ROUND((n - mu) / sd, 4)) > $AnomalyZ AS anomaly
       |FROM s WHERE n_prior = $AnomalyWindow AND sd > 0
       |ORDER BY event_type, day""".stripMargin

  /** Histogram bucket width for q95, in minutes of session span. */
  val SessBucketMin: Long = 10L

  /** q95: session-duration distribution — histogram of per-user session
    * spans (first→last event, q27's 30-minute-gap session semantics) in
    * [[SessBucketMin]]-minute buckets, with session count, event count,
    * and share. The product-analytics complement to q27's session LIST:
    * the shape of engagement rather than its instances.
    *
    * Scale shape: `session_window` aggregates shuffle on `user_id` (the
    * same key every Analytics stage uses), spans reduce each session to
    * one integer bucket map-side, and the histogram is a bucket-count
    * aggregate with a broadcast 1-row total — the session list itself
    * never re-sorts. Bucketing is exact integer floor-division of
    * microsecond spans in both engines (DuckDB `//`, Spark floor), so
    * the oracle needs no rounding slack.
    */
  def q95SessionDurations(s: SparkSession, dir: String): DataFrame = {
    val sess = events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("t0"), max(col("ts")).as("t1"))
    val buckets = sess.select(
      floor((unix_micros(col("t1")) - unix_micros(col("t0")))
        / lit(SessBucketMin * 60L * 1000000L)).as("bucket"),
      col("n_events"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
    val total = buckets.agg(sum(col("n_sessions")).as("n_total"))
    buckets.crossJoin(broadcast(total))
      .select(col("bucket"), col("n_sessions"), col("n_events"),
        round(col("n_sessions").cast("double") / col("n_total").cast("double"), 6)
          .as("share"))
      .orderBy(col("bucket"))
  }

  val q95Sql: String =
    s"""WITH ${Streaming.sessionSqlCtes("ts", "ts")},
       |sess AS (
       |  SELECT user_id, grp, CAST(count(*) AS BIGINT) AS n_events,
       |   (epoch_us(max(ts)) - epoch_us(min(ts))) // ${SessBucketMin * 60L * 1000000L}
       |     AS bucket
       |  FROM g GROUP BY user_id, grp),
       |b AS (
       |  SELECT bucket, CAST(count(*) AS BIGINT) AS n_sessions,
       |   CAST(sum(n_events) AS BIGINT) AS n_events
       |  FROM sess GROUP BY bucket),
       |t AS (SELECT CAST(sum(n_sessions) AS BIGINT) AS n_total FROM b)
       |SELECT bucket, n_sessions, n_events,
       | ROUND(CAST(n_sessions AS DOUBLE) / n_total, 6) AS share
       |FROM b CROSS JOIN t ORDER BY bucket""".stripMargin

  /** q96: last-touch purchase attribution — for every purchase, the event
    * type of the user's most recent PRECEDING non-purchase event, rolled
    * up into attribution counts, shares, and the mean minutes between
    * touch and purchase. The funnel (q77) asks whether a prescribed path
    * completed; attribution asks which touchpoint gets credit for each
    * conversion — the report marketing actually bills against.
    *
    * Scale shape: one `last(..., ignoreNulls)` window partitioned by
    * `user_id` (the safe many-small-partitions shape, like q89's lag),
    * then an attribution-cardinality hash aggregate and a broadcast 1-row
    * total. First-session purchases with no prior touch attribute to
    * 'none' rather than vanishing. The gap mean is rounded to 4dp
    * (engine summation order); counts and shares are exact.
    */
  def q96LastTouchAttribution(s: SparkSession, dir: String): DataFrame = {
    val purchase = FunnelSteps(2)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touched = events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("touch_type",
        last(when(col("event_type") =!= purchase, col("event_type")), ignoreNulls = true)
          .over(w))
      .withColumn("touch_ts",
        last(when(col("event_type") =!= purchase, col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === purchase)
      .select(coalesce(col("touch_type"), lit("none")).as("attribution"),
        ((unix_micros(col("ts")) - unix_micros(col("touch_ts"))) / 60000000.0).as("gap_min"))
    val agg = touched.groupBy(col("attribution"))
      .agg(count(lit(1)).as("n_purchases"), round(avg(col("gap_min")), 4).as("avg_gap_min"))
    val total = agg.agg(sum(col("n_purchases")).as("n_total"))
    agg.crossJoin(broadcast(total))
      .select(col("attribution"), col("n_purchases"),
        round(col("n_purchases").cast("double") / col("n_total").cast("double"), 6)
          .as("share"),
        col("avg_gap_min"))
      .orderBy(col("attribution"))
  }

  val q96Sql: String =
    s"""WITH o AS (
       |  SELECT user_id, ts, event_id, event_type,
       |   last_value(CASE WHEN event_type <> '${FunnelSteps(2)}' THEN event_type END
       |     IGNORE NULLS) OVER w AS touch_type,
       |   last_value(CASE WHEN event_type <> '${FunnelSteps(2)}' THEN ts END
       |     IGNORE NULLS) OVER w AS touch_ts
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |p AS (
       |  SELECT COALESCE(touch_type, 'none') AS attribution,
       |   (epoch_us(ts) - epoch_us(touch_ts)) / 60000000.0 AS gap_min
       |  FROM o WHERE event_type = '${FunnelSteps(2)}'),
       |a AS (
       |  SELECT attribution, CAST(count(*) AS BIGINT) AS n_purchases,
       |   ROUND(avg(gap_min), 4) AS avg_gap_min
       |  FROM p GROUP BY attribution),
       |t AS (SELECT CAST(sum(n_purchases) AS BIGINT) AS n_total FROM a)
       |SELECT attribution, n_purchases,
       | ROUND(CAST(n_purchases AS DOUBLE) / n_total, 6) AS share, avg_gap_min
       |FROM a CROSS JOIN t ORDER BY attribution""".stripMargin

  /** q114: HLL sketch PRE-AGGREGATION rollup — build per-(event_type, day)
    * HyperLogLog sketches of the distinct users and events, then answer
    * the per-type monthly distinct counts by MERGING the daily sketches
    * (`hll_union_agg`), side by side with a direct sketch over the raw
    * log and the exact count.
    *
    * Oracle contract (hash-checkable since r13, cf. q35/q55): sketch
    * binaries are engine-specific, so the engine emits, per type, the
    * exact distinct counts plus four booleans stating its own sketch
    * algebra — `*_merge_close`: the merged-daily estimate agrees with
    * the direct-global estimate within representation noise (≤ 2% of
    * exact). HLL registers merge by max, so sketch union loses nothing —
    * the law that makes materialized sketch tables valid at 100 TB: the
    * fact log is scanned ONCE at ingest into day-grain sketch rows,
    * every later rollup reads sketches, not the log — but the union
    * gadget forces the dense HLL representation while a small direct
    * sketch may still answer from its exact sparse list, so the two
    * ESTIMATES agree exactly only when both sides share a mode (they do
    * at fixture scale; at sf0.01 the ~2k event ids sit exactly in the
    * sparse-vs-dense gap, measured delta ~1%). `*_within_env`: the
    * estimate sits inside the standard HLL envelope of the exact count
    * (lgConfigK=12 → rse ~1.6%; 5% ≈ 3σ, the bound CorpusStatsSpec has
    * pinned since r6). The oracle emits the same groups from exact
    * counts with literal TRUE — a hash match PROVES both bounds held.
    */
  def q114SketchRollup(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("user_id"), col("event_id"))
    // the pre-aggregated sketch table a warehouse would materialize
    val daily = ev.groupBy(col("event_type"), col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk_u"),
        hll_sketch_agg(col("event_id")).as("sk_e"))
    val merged = daily.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk_u"))).as("users_merged"),
        hll_sketch_estimate(hll_union_agg(col("sk_e"))).as("events_merged"))
    val direct = ev.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("users_direct"),
        hll_sketch_estimate(hll_sketch_agg(col("event_id"))).as("events_direct"),
        countDistinct(col("user_id")).as("users_exact"),
        countDistinct(col("event_id")).as("events_exact"))
    def close(a: Column, b: Column, exact: Column, tol: Double): Column =
      abs(a - b) <= greatest(lit(1L), ceil(exact.cast("double") * tol).cast("long"))
    merged.join(direct, Seq("event_type"))
      .select(col("event_type"),
        col("users_exact"), col("events_exact"),
        close(col("users_merged"), col("users_direct"), col("users_exact"), 0.02)
          .as("users_merge_close"),
        close(col("events_merged"), col("events_direct"), col("events_exact"), 0.02)
          .as("events_merge_close"),
        close(col("users_merged"), col("users_exact"), col("users_exact"), 0.05)
          .as("users_within_env"),
        close(col("events_merged"), col("events_exact"), col("events_exact"), 0.05)
          .as("events_within_env"))
      .orderBy(col("event_type"))
  }

  val q114Sql: String =
    """SELECT event_type,
      | count(DISTINCT user_id) AS users_exact,
      | count(DISTINCT event_id) AS events_exact,
      | TRUE AS users_merge_close, TRUE AS events_merge_close,
      | TRUE AS users_within_env, TRUE AS events_within_env
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Batch boundary for q120's simulated incremental load. */
  val IncrCutoff = "2024-01-20"

  /** q120: incremental aggregate maintenance — the materialized-view
    * update at the heart of every warehouse ETL: a per-(event_type, day)
    * aggregate table built from the historical log is brought up to date
    * by aggregating ONLY the new batch and merging partials, never
    * rescanning history. The oracle is the full recompute over the whole
    * log — so the driver's hash compare IS the proof that
    * merge(agg(base), agg(delta)) ≡ agg(base ∪ delta), the partial-
    * aggregate algebra (count and fixed-scale decimal sum are both
    * commutative monoids) that makes incremental loads exact. q114 is
    * the same statement for sketches; this is the exact-arithmetic
    * counterpart.
    *
    * Scale shape: each side aggregates to the (type, day) keyspace with
    * map-side partials before any exchange; the merge is a union of two
    * key-sized frames + one more key-sized aggregate. History cost is
    * paid once (here simulated by the base scan; in production the base
    * agg IS the stored table — the eager checkpoint marks that
    * boundary). Sums merge in DECIMAL(18,6) — exact and order-free — and
    * present as double only at the end.
    */
  def q120IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
    def partial(df: DataFrame): DataFrame =
      df.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n_part"),
          sum(col("value").cast("decimal(18,6)")).as("sv_part"))
    // the stored aggregate table (checkpoint = the materialization boundary)
    val base = partial(ev.filter(col("day") <= lit(IncrCutoff).cast("date")))
      .localCheckpoint(true)
    val delta = partial(ev.filter(col("day") > lit(IncrCutoff).cast("date")))
    base.unionByName(delta)
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("n_part")).as("n_events"),
        sum(col("sv_part")).cast("double").as("sum_value"))
      .select(col("day").cast("timestamp").as("day"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(col("day"), col("event_type"))
  }

  /** Oracle: the FULL recompute — hash-equality against the incremental
    * merge is the maintenance-correctness proof. */
  val q120Sql: String =
    """SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day, event_type,
      | CAST(count(*) AS BIGINT) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- q123

  /** Salt buckets for q123's skew-spread join and aggregation. At cluster
    * scale this is tuned to ceil(hot-key bytes / target partition bytes);
    * 8 spreads the hottest event_type across 8 reducers here.
    */
  val SaltBuckets = 8

  /** q123: SALTED skew join + two-phase skewed aggregation — the explicit
    * skew-mitigation pattern, registered as an oracle-checked query (it
    * was previously pinned only in ScaleSpec unit tests). `event_type` is
    * a genuinely skewed key: a handful of values own the whole event log,
    * so an unsalted shuffle join/aggregate on it lands each type on ONE
    * reducer — the partition that dies first at 100×.
    *
    * The query enriches every event with its type's global mean and
    * reports the per-type mean absolute deviation, through two salt
    * stages:
    *   1. SALTED JOIN: the per-type stats dim is replicated ×
    *      [[SaltBuckets]] (explode of a literal sequence — dim×8 rows,
    *      trivially small), the fact side gets `salt = event_id mod 8`,
    *      and the join keys on (event_type, salt) — the hot type's rows
    *      spread over 8 reducers instead of 1. The dim side carries a
    *      `merge` hint: at the scale this models, the dim does NOT fit a
    *      broadcast (if it did, broadcasting — q02's shape — would beat
    *      salting; salting exists for the shuffle-join case) and AQE
    *      would otherwise broadcast the toy-sized fixture dim, hiding the
    *      exact plan shape the operator demonstrates.
    *   2. TWO-PHASE AGG: the deviation aggregate groups by (event_type,
    *      salt) first — partials land on the same 8-way-spread reducers —
    *      then combines the ≤ |types|×8 partials by type. Merging counts
    *      and sums (not averages) keeps the combine exact.
    *
    * The salt is derived from `event_id mod 8`, not a random — runs are
    * deterministic and replay-stable. The oracle is the UNSALTED
    * equivalent: the hash match proves salting is pure plan surgery with
    * zero semantic drift.
    */
  def q123SaltedSkewJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("event_type"), col("value"), col("event_id"))
    val dim = ev.groupBy(col("event_type")).agg(avg(col("value")).as("mu"))
      .select(col("event_type"), col("mu"),
        explode(sequence(lit(0), lit(SaltBuckets - 1))).as("salt"))
    val fact = ev.withColumn("salt",
      pmod(col("event_id"), lit(SaltBuckets.toLong)).cast("int"))
    fact.join(dim.hint("merge"), Seq("event_type", "salt"))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("n_part"),
        sum(abs(col("value") - col("mu"))).as("d_part"))
      .groupBy(col("event_type"))
      .agg(sum(col("n_part")).as("n_events"),
        round(sum(col("d_part")) / sum(col("n_part")), 6).as("mean_abs_dev"))
      .orderBy(col("event_type"))
  }

  val q123Sql: String =
    """WITH m AS (SELECT event_type, avg(value) AS mu FROM events GROUP BY event_type)
      |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_events,
      | ROUND(SUM(ABS(e.value - m.mu)) / count(*), 6) AS mean_abs_dev
      |FROM events e JOIN m ON e.event_type = m.event_type
      |GROUP BY e.event_type
      |ORDER BY e.event_type""".stripMargin

  // ---------------------------------------------------------------- q129

  /** q129: daily TRENDING report — per (day, event_type) volume, its
    * within-day rank, and the rank DELTA against the previous calendar
    * day (positive = climbing). The day-over-day movement — not the
    * absolute rank — is what a monitoring dashboard alerts on: a type
    * jumping four places flags a release or an incident even while a
    * steady head type stays rank 1. The comparison is against the
    * previous CALENDAR day by an explicit (type, day−1) self-join, not
    * `lag` over observed days — a type absent yesterday is genuinely
    * `prev_rank = NULL` (new entrant), which a lag over its own sparse
    * history would silently paper over.
    *
    * Scale shape: one (day, type) hash aggregate (map-side partials);
    * the rank is a window partitioned BY DAY (days-of-history
    * partitions, never global); the self-join keys on (type, day) over
    * the aggregated frame — days×types rows, presentation-scale. Rank
    * ties are impossible by construction (the order is (count DESC,
    * type) — a total order), so both engines rank identically.
    */
  def q129Trending(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val ranked = daily.withColumn("rnk",
        rank().over(Window.partitionBy(col("day"))
          .orderBy(col("n_events").desc, col("event_type"))).cast("long"))
      .localCheckpoint(true) // both self-join branches read it
    val prev = ranked.select(col("event_type").as("p_type"),
      col("day").as("p_day"), col("rnk").as("prev_rank"))
    ranked.join(prev,
        col("event_type") === col("p_type") && col("p_day") === date_sub(col("day"), 1),
        "left")
      .select(col("day").cast("timestamp").as("day"), col("event_type"),
        col("n_events"), col("rnk"), col("prev_rank"),
        (col("prev_rank") - col("rnk")).as("rank_delta"))
      .orderBy(col("day"), col("rnk"))
  }

  val q129Sql: String =
    """WITH d AS (
      |  SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS n_events
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT day, event_type, n_events,
      |   CAST(rank() OVER (PARTITION BY day ORDER BY n_events DESC, event_type) AS BIGINT) AS rnk
      |  FROM d)
      |SELECT CAST(c.day AS TIMESTAMP) AS day, c.event_type, c.n_events, c.rnk,
      | p.rnk AS prev_rank, p.rnk - c.rnk AS rank_delta
      |FROM r c LEFT JOIN r p
      |  ON c.event_type = p.event_type AND p.day = c.day - INTERVAL 1 DAY
      |ORDER BY c.day, c.rnk""".stripMargin

  // ---------------------------------------------------------------- q139

  /** q139: position-based MULTI-TOUCH attribution — q96's last-touch
    * model upgraded to the U-shaped industry standard. Every purchase
    * closes a JOURNEY: the same user's non-purchase touches since their
    * previous purchase. Credit per journey sums to 1 and splits 40% to
    * the first touch, 40% to the last, and 20% evenly across the middle
    * (degenerate journeys: a single touch takes 1.0, a pair takes
    * 0.5/0.5). Touches after a user's final purchase stay unattributed —
    * the journey never closed. The report aggregates credit by touch
    * channel (event_type).
    *
    * Scale shape: journey assignment is ONE user_id-partitioned running
    * count of purchases (touches carry the count INCLUSIVE of prior
    * rows, a purchase keys its journey by count−1, so journey k's
    * touches meet journey k's purchase on an equi-join over (user_id,
    * journey) — both sides already partitioned by user_id, so AQE plans
    * the join off the exchange the window paid). Position weights are a
    * second window on the SAME user key ((user, journey) rank + count),
    * then a channel-keyed hash aggregate. No global window, no driver
    * logic, conservation provable (total credit = closed journeys with
    * ≥1 touch).
    */
  def q139MultiTouch(s: SparkSession, dir: String): DataFrame = {
    val isP = col("event_type") === "purchase"
    val wRun = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tagged = events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("p_run", sum(when(isP, 1L).otherwise(0L)).over(wRun))
      .localCheckpoint(true) // one event-sized window pass; both sides below
    val touches = tagged.filter(!isP)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("p_run").as("journey"))
    val purchases = tagged.filter(isP)
      .select(col("user_id").as("p_uid"), (col("p_run") - 1).as("p_journey"))
    val wPos = Window.partitionBy(col("user_id"), col("journey"))
      .orderBy(col("ts"), col("event_id"))
    val wCnt = Window.partitionBy(col("user_id"), col("journey"))
    touches
      .join(purchases,
        col("user_id") === col("p_uid") && col("journey") === col("p_journey"),
        "left_semi")
      .withColumn("pos", row_number().over(wPos).cast("long"))
      .withColumn("n", count(lit(1)).over(wCnt))
      .withColumn("credit",
        when(col("n") === 1, 1.0)
          .when(col("pos") === 1 || col("pos") === col("n"),
            when(col("n") === 2, 0.5).otherwise(0.4))
          .otherwise(lit(0.2) / (col("n") - 2)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_touches"),
        round(sum(col("credit")), 6).as("total_credit"))
      .orderBy(col("event_type"))
  }

  val q139Sql: String =
    """WITH tagged AS (
      |  SELECT user_id, ts, event_id, event_type,
      |   SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER (
      |     PARTITION BY user_id ORDER BY ts, event_id
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_run
      |  FROM events),
      |touches AS (
      |  SELECT user_id, ts, event_id, event_type, p_run AS journey
      |  FROM tagged WHERE event_type <> 'purchase'),
      |closed AS (
      |  SELECT t.* FROM touches t
      |  WHERE EXISTS (SELECT 1 FROM tagged p
      |    WHERE p.event_type = 'purchase' AND p.user_id = t.user_id
      |      AND p.p_run - 1 = t.journey)),
      |pos AS (
      |  SELECT event_type,
      |   CAST(row_number() OVER (PARTITION BY user_id, journey
      |     ORDER BY ts, event_id) AS BIGINT) AS pos,
      |   CAST(count(*) OVER (PARTITION BY user_id, journey) AS BIGINT) AS n
      |  FROM closed)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_touches,
      | ROUND(SUM(CASE WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
      |   WHEN pos = 1 OR pos = n THEN
      |     (CASE WHEN n = 2 THEN CAST(0.5 AS DOUBLE) ELSE CAST(0.4 AS DOUBLE) END)
      |   ELSE CAST(0.2 AS DOUBLE) / (n - 2) END), 6) AS total_credit
      |FROM pos GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q140

  /** q140: rolling 7-day active users — per calendar day with events,
    * that day's distinct actives (DAU) and the trailing-7-day distinct
    * actives (WAU, window [day−6, day]). The naive per-day
    * `COUNT(DISTINCT user) OVER (RANGE 6 PRECEDING)` cannot merge
    * distinct states across frames and degenerates to re-scanning 7 days
    * of raw events per output day. The scale form inverts it into a
    * CONTRIBUTION EXPLODE: reduce the log to distinct (user, day) pairs
    * FIRST (the only event-sized shuffle), then each reduced pair
    * contributes to the 7 window-ends it can be active in (a bounded ×7
    * Generate on the reduced frame), and one distinct-aggregate per
    * window-end finishes. The final inner join against the DAU frame
    * keeps only real event days (dropping the phantom trailing
    * window-ends past the data), and joins two day-keyed domain-sized
    * frames.
    */
  def q140RollingActives(s: SparkSession, dir: String): DataFrame = {
    val ud = events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .localCheckpoint(true) // both the DAU and the contribution consumers
    val wau = ud
      .select(col("user_id"), col("day"), explode(sequence(lit(0), lit(6))).as("i"))
      .select(col("user_id"), expr("date_add(day, i)").as("wday"))
      .groupBy(col("wday"))
      .agg(countDistinct(col("user_id")).as("wau7"))
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    dau.join(wau, col("day") === col("wday"))
      .select(col("day").cast("timestamp").as("day"), col("dau"), col("wau7"))
      .orderBy(col("day"))
  }

  val q140Sql: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |contrib AS (
      |  SELECT user_id, day + CAST(t.i AS INT) AS wday
      |  FROM ud, range(7) t(i)),
      |wau AS (SELECT wday, CAST(count(DISTINCT user_id) AS BIGINT) AS wau7
      |        FROM contrib GROUP BY 1),
      |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1)
      |SELECT CAST(d.day AS TIMESTAMP) AS day, dau, wau7
      |FROM dau d JOIN wau w ON d.day = w.wday
      |ORDER BY d.day""".stripMargin

  // ---------------------------------------------------------------- q145

  /** q145: funnel STEP LATENCY — q77 counts who converts; this measures
    * how long each conversion takes. For every user completing a funnel
    * transition (first qualifying next-step event strictly after their
    * prior-step time — q77's exact step semantics, so the two reports
    * describe the same cohort), the transition latency distribution:
    * median / p90 / max seconds. The metric product teams actually act
    * on: a conversion rate can hold steady while time-to-convert
    * degrades.
    *
    * Scale shape: identical to q77 — per-step user_id-keyed min
    * aggregates chained by equi-joins on user_id (every stage shuffles
    * on the same key, so AQE reuses the exchanges) — with the prior-step
    * time CARRIED through the group key ((user, t_prev) is a functional
    * dependency, no extra shuffle width). The final percentile aggregate
    * sees transition-cohort-sized frames; q55's sketch is the huge-group
    * drop-in.
    */
  def q145FunnelLatency(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("user_id"), col("event_type"), col("ts"))
    val s1 = ev.filter(col("event_type") === FunnelSteps(0))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = ev.filter(col("event_type") === FunnelSteps(1)).join(s1, Seq("user_id"))
      .filter(col("ts") > col("t1"))
      .groupBy(col("user_id"), col("t1")).agg(min(col("ts")).as("t2"))
    val s3 = ev.filter(col("event_type") === FunnelSteps(2)).join(
        s2.select(col("user_id"), col("t2")), Seq("user_id"))
      .filter(col("ts") > col("t2"))
      .groupBy(col("user_id"), col("t2")).agg(min(col("ts")).as("t3"))
    def lat(df: DataFrame, from: Column, to: Column, label: String): DataFrame =
      df.select(lit(label).as("transition"),
        ((unix_micros(to) - unix_micros(from)).cast("double") / 1e6).as("lat_s"))
    lat(s2, col("t1"), col("t2"), s"${FunnelSteps(0)}_to_${FunnelSteps(1)}")
      .union(lat(s3, col("t2"), col("t3"), s"${FunnelSteps(1)}_to_${FunnelSteps(2)}"))
      .groupBy(col("transition"))
      .agg(count(lit(1)).as("n_users"),
        round(expr("percentile(lat_s, 0.5D)"), 4).as("p50_s"),
        round(expr("percentile(lat_s, 0.9D)"), 4).as("p90_s"),
        round(max(col("lat_s")), 4).as("max_s"))
      .orderBy(col("transition"))
  }

  val q145Sql: String =
    s"""WITH s1 AS (
       |  SELECT user_id, min(ts) AS t1 FROM events
       |  WHERE event_type = '${FunnelSteps(0)}' GROUP BY user_id),
       |s2 AS (
       |  SELECT e.user_id, s1.t1, min(e.ts) AS t2
       |  FROM events e JOIN s1 ON e.user_id = s1.user_id
       |  WHERE e.event_type = '${FunnelSteps(1)}' AND e.ts > s1.t1
       |  GROUP BY e.user_id, s1.t1),
       |s3 AS (
       |  SELECT e.user_id, s2.t2, min(e.ts) AS t3
       |  FROM events e JOIN s2 ON e.user_id = s2.user_id
       |  WHERE e.event_type = '${FunnelSteps(2)}' AND e.ts > s2.t2
       |  GROUP BY e.user_id, s2.t2),
       |lats AS (
       |  SELECT '${FunnelSteps(0)}_to_${FunnelSteps(1)}' AS transition,
       |   (epoch_us(t2) - epoch_us(t1)) / 1000000.0 AS lat_s FROM s2
       |  UNION ALL
       |  SELECT '${FunnelSteps(1)}_to_${FunnelSteps(2)}',
       |   (epoch_us(t3) - epoch_us(t2)) / 1000000.0 FROM s3)
       |SELECT transition, CAST(count(*) AS BIGINT) AS n_users,
       | ROUND(quantile_cont(lat_s, 0.5), 4) AS p50_s,
       | ROUND(quantile_cont(lat_s, 0.9), 4) AS p90_s,
       | ROUND(max(lat_s), 4) AS max_s
       |FROM lats GROUP BY transition ORDER BY transition""".stripMargin

  // ---------------------------------------------------------------- q149

  /** Session inactivity gap for q149 — the SAME constant as q27/q72's
    * sessionization ([[Streaming.GapUs]]), referenced rather than
    * re-declared so the suite has exactly one session-timeout invariant.
    */
  val LiftGapUs: Long = Streaming.GapUs

  /** q149: session co-occurrence LIFT — association mining over
    * behavior sessions. For every pair of event types, the number of
    * sessions containing BOTH, the pair's support, and the lift
    * P(a,b)/(P(a)·P(b)): lift > 1 means the types co-occur in a session
    * more than independence predicts (a recommendation / funnel-design
    * signal q89's consecutive-transition counts cannot give — lift sees
    * co-presence anywhere in the session, not adjacency).
    *
    * Scale shape: sessionization is q27's gaps-and-islands (two
    * user-partitioned windows on one exchange); the frame then REDUCES
    * to distinct (session, type) rows — sessions × ≤|type| — before any
    * join, so the pair self-join (keyed on the session id) fans out at
    * most C(|types|, 2) rows per session and the pair aggregate is
    * type²-domain-sized. Type marginals and the session total ride
    * broadcast joins of tiny aggregates.
    */
  def q149SessionLift(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gap = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
    val st = events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("new_s",
        when(gap.isNull || gap >= LiftGapUs, 1L).otherwise(0L))
      .withColumn("grp", sum(col("new_s")).over(wRun))
      .select(col("user_id"), col("grp"), col("event_type"))
      .distinct()
      .localCheckpoint(true) // 3 consumers: pairs, marginals, total
    val total = st.select(col("user_id"), col("grp")).distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val marginals = st.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val pairs = st.as("a").join(st.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.grp") === col("b.grp") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(marginals.select(col("event_type").as("type_a"), col("n").as("n_a"))),
        Seq("type_a"))
      .join(broadcast(marginals.select(col("event_type").as("type_b"), col("n").as("n_b"))),
        Seq("type_b"))
      .crossJoin(broadcast(total))
      .select(col("type_a"), col("type_b"), col("n_both"), col("n_a"), col("n_b"),
        round(col("n_both").cast("double") / col("n_sessions"), 6).as("support"),
        round((col("n_both") * col("n_sessions")).cast("double")
          / (col("n_a") * col("n_b")), 6).as("lift"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val q149Sql: String =
    s"""WITH ${Streaming.sessionSqlCtes("ts, event_id, event_type", "ts, event_id")},
      |st AS (SELECT DISTINCT user_id, grp, event_type FROM g),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions
      |        FROM (SELECT DISTINCT user_id, grp FROM st)),
      |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM st GROUP BY 1),
      |p AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |   CAST(count(*) AS BIGINT) AS n_both
      |  FROM st a JOIN st b
      |    ON a.user_id = b.user_id AND a.grp = b.grp AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b, n_both, ma.n AS n_a, mb.n AS n_b,
      | ROUND(CAST(n_both AS DOUBLE) / n_sessions, 6) AS support,
      | ROUND(CAST(n_both * n_sessions AS DOUBLE) / (ma.n * mb.n), 6) AS lift
      |FROM p JOIN m ma ON p.type_a = ma.event_type
      |       JOIN m mb ON p.type_b = mb.event_type
      |       CROSS JOIN tot
      |ORDER BY type_a, type_b""".stripMargin

  // ---------------------------------------------------------------- q150

  /** q150: MARKOV next-event BACKTEST — train a first-order transition
    * model on the pre-cutoff log, predict each post-cutoff transition's
    * next type as the argmax of the trained row (ties broken (count
    * DESC, type ASC) — a total order, so both engines pick the same
    * mode), and score top-1 accuracy per current type. The engine-native
    * model-evaluation loop: train, freeze, backtest — no data leaves the
    * cluster, and the temporal split discipline is q142's (train strictly
    * before test; pairs straddling the cutoff belong to neither side
    * because each side computes lead() within its own frame).
    *
    * Scale shape: both sides are ONE user-partitioned lead window over
    * their period's events; the trained model reduces to a type²-domain
    * count frame whose per-row argmax is a window over ≤|types|
    * partitions; the scored join keys the test pairs on the current type
    * against the broadcast |types|-row model. Accuracy is a conditional
    * aggregate; a test type unseen in training predicts NULL, which
    * scores as wrong in both engines (CASE NULL → ELSE 0).
    */
  def q150MarkovBacktest(s: SparkSession, dir: String): DataFrame = {
    val cut = lit(TrainingData.SplitCutoff).cast("timestamp")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    def transitions(side: DataFrame): DataFrame = side
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("event_type").as("cur"), col("nxt"))
    val ev = events(s, dir)
    val trained = transitions(ev.filter(col("ts") <= cut))
      .groupBy(col("cur"), col("nxt")).agg(count(lit(1)).as("n"))
    val wArg = Window.partitionBy(col("cur")).orderBy(col("n").desc, col("nxt"))
    val model = trained
      .withColumn("rn", row_number().over(wArg))
      .filter(col("rn") === 1)
      .select(col("cur").as("m_cur"), col("nxt").as("predicted"))
    transitions(ev.filter(col("ts") > cut))
      .join(broadcast(model), col("cur") === col("m_cur"), "left")
      .groupBy(col("cur"))
      .agg(
        first(col("predicted"), ignoreNulls = true).as("predicted_next"),
        count(lit(1)).as("n_test"),
        sum(when(col("nxt") === col("predicted"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("accuracy",
        round(col("n_correct").cast("double") / col("n_test"), 6))
      .orderBy(col("cur"))
  }

  val q150Sql: String =
    s"""WITH tr AS (
       |  SELECT event_type AS cur,
       |   lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
       |  FROM events WHERE ts <= TIMESTAMP '${TrainingData.SplitCutoff}'),
       |cnt AS (SELECT cur, nxt, count(*) AS n FROM tr WHERE nxt IS NOT NULL GROUP BY 1, 2),
       |model AS (
       |  SELECT cur AS m_cur, nxt AS predicted FROM (
       |    SELECT *, row_number() OVER (PARTITION BY cur ORDER BY n DESC, nxt) AS rn
       |    FROM cnt) WHERE rn = 1),
       |te AS (
       |  SELECT event_type AS cur,
       |   lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
       |  FROM events WHERE ts > TIMESTAMP '${TrainingData.SplitCutoff}')
       |SELECT cur, any_value(predicted) AS predicted_next,
       | CAST(count(*) AS BIGINT) AS n_test,
       | CAST(SUM(CASE WHEN nxt = predicted THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       | ROUND(CAST(SUM(CASE WHEN nxt = predicted THEN 1 ELSE 0 END) AS DOUBLE)
       |       / count(*), 6) AS accuracy
       |FROM te LEFT JOIN model ON te.cur = model.m_cur
       |WHERE te.nxt IS NOT NULL
       |GROUP BY cur ORDER BY cur""".stripMargin

  // ---------------------------------------------------------------- q152

  /** q152: RFM SEGMENTATION — the classic user-value triage. Each user
    * reduces to (Recency = seconds from their last event to the corpus
    * horizon, Frequency = event count, Monetary = summed value); each
    * axis then splits at its MEDIAN into hi/lo, yielding the 8 canonical
    * segments (RFM 'hi_hi_hi' = recently active, frequent, high-spend).
    * The report is segment-level: user counts and per-axis averages —
    * the frame a lifecycle-marketing or cohort-prioritization pass
    * starts from.
    *
    * Scale shape: the textbook anti-pattern here is `ntile() OVER
    * (ORDER BY …)` — a global sort per axis. Instead the user frame
    * (ONE user-keyed aggregate over the log) reduces to a 1-row exact
    * median frame (q141's two-pass pattern; q55's sketch at huge user
    * counts) that BROADCASTS back, so segment assignment is map-side
    * arithmetic and the final aggregate is 8-domain-sized. Median
    * comparisons use strict `>` so ties fall to 'lo' identically in
    * both engines; recency is integer seconds (exact), so no float
    * boundary can disagree.
    */
  def q152RfmSegments(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir).select(col("user_id"), col("ts"), col("value"))
    val horizon = ev.agg(max(col("ts")).as("h"))
    val users = ev.crossJoin(broadcast(horizon))
      .groupBy(col("user_id"))
      // DIV, not `/`: Column division is double division; integer-floor
      // seconds match DuckDB's `//` exactly (same convention as the
      // events nanos loader)
      .agg(expr("(unix_micros(min(h)) - unix_micros(max(ts))) DIV 1000000")
          .as("recency_s"),
        count(lit(1)).as("frequency"),
        round(sum(col("value")), 6).as("monetary"))
      .localCheckpoint(true) // medians + assignment both read it
    val med = users.agg(
      expr("percentile(recency_s, 0.5D)").as("r_med"),
      expr("percentile(frequency, 0.5D)").as("f_med"),
      expr("percentile(monetary, 0.5D)").as("m_med"))
    users.crossJoin(broadcast(med))
      .select(col("user_id"), col("recency_s"), col("frequency"), col("monetary"),
        concat(
          // LOW recency (fewer seconds since last touch) is the GOOD side
          when(col("recency_s") < col("r_med"), "hi").otherwise("lo"),
          lit("_"),
          when(col("frequency") > col("f_med"), "hi").otherwise("lo"),
          lit("_"),
          when(col("monetary") > col("m_med"), "hi").otherwise("lo")).as("segment"))
      .groupBy(col("segment"))
      // EXACT sums, then one division: float avg() folds in engine-
      // specific order, and at sf1 segment sizes (~2k users) the last
      // ulp crossed a round(·,4) half-boundary (measured: 3530.5378 vs
      // .5377). Integer sums are exact; the 6dp monetary sums exactly in
      // DECIMAL(18,6); both engines then divide identical numerators.
      .agg(count(lit(1)).as("n_users"),
        round(sum(col("recency_s")).cast("double") / count(lit(1)), 4)
          .as("avg_recency_s"),
        round(sum(col("frequency")).cast("double") / count(lit(1)), 4)
          .as("avg_frequency"),
        round(sum(col("monetary").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double") / count(lit(1)), 4).as("avg_monetary"))
      .orderBy(col("segment"))
  }

  val q152Sql: String =
    """WITH u AS (
      |  SELECT user_id,
      |   (epoch_us((SELECT max(ts) FROM events)) - epoch_us(max(ts))) // 1000000 AS recency_s,
      |   CAST(count(*) AS BIGINT) AS frequency,
      |   ROUND(SUM(value), 6) AS monetary
      |  FROM events GROUP BY user_id),
      |m AS (
      |  SELECT quantile_cont(recency_s, 0.5) AS r_med,
      |   quantile_cont(frequency, 0.5) AS f_med,
      |   quantile_cont(monetary, 0.5) AS m_med
      |  FROM u),
      |seg AS (
      |  SELECT recency_s, frequency, monetary,
      |   concat(CASE WHEN recency_s < r_med THEN 'hi' ELSE 'lo' END, '_',
      |          CASE WHEN frequency > f_med THEN 'hi' ELSE 'lo' END, '_',
      |          CASE WHEN monetary > m_med THEN 'hi' ELSE 'lo' END) AS segment
      |  FROM u CROSS JOIN m)
      |SELECT segment, CAST(count(*) AS BIGINT) AS n_users,
      | ROUND(CAST(SUM(recency_s) AS DOUBLE) / count(*), 4) AS avg_recency_s,
      | ROUND(CAST(SUM(frequency) AS DOUBLE) / count(*), 4) AS avg_frequency,
      | ROUND(CAST(SUM(CAST(monetary AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4) AS avg_monetary
      |FROM seg GROUP BY segment ORDER BY segment""".stripMargin

  // ---------------------------------------------------------------- q153

  /** q153: PATH TRIGRAM mining — the order-2 extension of q89's
    * transition counts and the context q150's order-1 Markov model
    * lacks: for every consecutive type triple (a, b, c) in a user's
    * stream, its count and the conditional next-step probability
    * P(c | a, b) = n_abc ∕ n_ab. Comparing P(c | a, b) against q89's
    * P(c | b) is the standard test of whether user behavior is
    * first-order (it usually is not — which is exactly what this
    * report quantifies).
    *
    * Scale shape: ONE user-partitioned window pass computes both leads
    * (same exchange, same sort), and its OUTPUT is checkpointed — the
    * trigram and bigram aggregates are two independent consumers that
    * would otherwise each recompute the window; the probability attaches
    * by a broadcast join of the types²-row bigram frame. Nothing
    * row-sized survives past the window.
    */
  def q153PathTrigrams(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val stepped = events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("b", lead(col("event_type"), 1).over(w))
      .withColumn("c", lead(col("event_type"), 2).over(w))
      .filter(col("b").isNotNull)
      .select(col("event_type").as("a"), col("b"), col("c"))
      .localCheckpoint(true) // one window pass; trigram + bigram consumers
    val bigrams = stepped.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_ab"))
      .select(col("a").as("g_a"), col("b").as("g_b"), col("n_ab"))
    stepped.filter(col("c").isNotNull)
      .groupBy(col("a"), col("b"), col("c"))
      .agg(count(lit(1)).as("n_abc"))
      .join(broadcast(bigrams), col("a") === col("g_a") && col("b") === col("g_b"))
      .select(col("a"), col("b"), col("c"), col("n_abc"), col("n_ab"),
        round(col("n_abc").cast("double") / col("n_ab"), 6).as("p_c_given_ab"))
      .orderBy(col("a"), col("b"), col("c"))
  }

  val q153Sql: String =
    """WITH st AS (
      |  SELECT event_type AS a,
      |   lead(event_type, 1) OVER w AS b,
      |   lead(event_type, 2) OVER w AS c
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |kept AS (SELECT * FROM st WHERE b IS NOT NULL),
      |bg AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab FROM kept GROUP BY 1, 2),
      |tg AS (SELECT a, b, c, CAST(count(*) AS BIGINT) AS n_abc
      |       FROM kept WHERE c IS NOT NULL GROUP BY 1, 2, 3)
      |SELECT tg.a, tg.b, tg.c, n_abc, n_ab,
      | ROUND(CAST(n_abc AS DOUBLE) / n_ab, 6) AS p_c_given_ab
      |FROM tg JOIN bg ON tg.a = bg.a AND tg.b = bg.b
      |ORDER BY tg.a, tg.b, tg.c""".stripMargin
}
