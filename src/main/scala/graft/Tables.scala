package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All engine queries take `(SparkSession, sfDir)` and read through here so
  * the scan path is uniform: parquet with Catalyst column pruning + filter
  * pushdown (verify via `.explain`: `PushedFilters`/`ReadSchema`). At cluster
  * scale the same call reads a partitioned directory; nothing here assumes
  * single-file input.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` normalization: downstream always sees a session-TZ
    * `TimestampType` column, whatever the file encodes. The fixtures have
    * shipped two encodings:
    *
    *   - parquet `timestamp[us]` without UTC adjustment — Spark reads it as
    *     `TIMESTAMP_NTZ`; cast to `TimestampType`. The session timezone is
    *     pinned to UTC ([[Sessions.builder]]), so the cast reinterprets the
    *     wall-clock value as the identical UTC instant — exactly how the
    *     DuckDB oracle treats the same naive column.
    *   - parquet TIMESTAMP(NANOS), which Spark 4 rejects unless
    *     `spark.sql.legacy.parquet.nanosAsLong=true` (set in
    *     [[Sessions.builder]]) delivers it as a nanos long; truncate to
    *     microseconds with integer division (`DIV`, not `/` — double
    *     division would lose precision at epoch-nanos magnitudes), matching
    *     DuckDB's ns→µs truncation. Tests also write raw-nanos long fixtures
    *     through this path (TrainingDataSpec's cross-epoch q54 case).
    *
    * Dispatch is on the column's read dtype, so the loader needs no flag and
    * stays side-effect-free.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Adaptive re-split for CPU-heavy map stages over sources Spark can't
    * split: a single parquet row group (these fixtures) or a gzip'd file
    * scans as ONE task, so an expensive per-row stage (tokenization,
    * vector scoring) runs on one core no matter the cluster size. When the
    * scan yields fewer splits than cores, shuffle the (narrow, projected)
    * rows round-robin across the cluster BEFORE the expensive work; on a
    * properly chunked corpus (row groups ≫ cores — any real 100 TB table)
    * this is a structural no-op, so the shuffle can never become the
    * bottleneck at scale. Call it on the projection feeding the hot
    * expression, never on a wide row.
    *
    * Known limit: the guard counts SPLITS, not row distribution — a huge
    * file with one giant row group yields many byte-range splits but only
    * one non-empty task, which this cannot detect. That layout is a
    * write-side defect (row groups must be capped, e.g. 128 MB, for any
    * scan parallelism at all) and is fixed there, not here.
    */
  def resplit(df: DataFrame): DataFrame = {
    // Guard (was a by-convention contract): the partition-count probe below
    // goes through `df.rdd`, which under AQE MATERIALIZES every exchange in
    // the plan — on a scan-shaped or checkpointed input that's free, but on
    // a join/aggregate subtree it would silently execute the upstream
    // stages once for the probe and again for the real action. An exchange
    // in the plan also means the frame is ALREADY cluster-partitioned
    // (shuffles emit spark.sql.shuffle.partitions splits), so re-splitting
    // adds nothing: exchange-bearing input passes through untouched and the
    // probe only ever runs where it is free (pinned by ScaleSpec's
    // zero-jobs test). Callers that need the verify stage fanned out go
    // through [[fanOut]], which checkpoints first: that truncates to a
    // scan-shaped plan and re-enables the probe.
    // String match on the PREPARED plan: exchanges are inserted by the
    // preparation rules (EnsureRequirements), so `sparkPlan` doesn't have
    // them yet, and under AQE the executedPlan root is an opaque
    // AdaptiveSparkPlanExec (a LeafExecNode — tree collect can't see
    // inside it) whose toString renders the exchange-bearing initial
    // plan. Match any "Exchange <something>" NODE at a tree position
    // (line start or after a "+- "/":- " branch prefix) rather than
    // enumerating partitioning renderings: an unlisted partitioning
    // (e.g. DSv2 KeyGroupedPartitioning) must still count as an
    // exchange, and the tree-prefix anchor keeps a file path containing
    // the word "Exchange" from false-matching. BroadcastExchange counts
    // even though it doesn't repartition the stream side: the probe on a
    // broadcast-bearing plan would eagerly build the broadcast (not
    // free, violating the zero-jobs guarantee pinned by ScaleSpec) — a
    // caller that wants a broadcast-join output fanned out goes through
    // [[fanOut]], exactly like the shuffle-join consumers.
    val exchangeNode = "(?m)(^|[+:]- )(BroadcastExchange|Exchange) \\S".r
    val hasExchange =
      exchangeNode.findFirstIn(df.queryExecution.executedPlan.toString).isDefined
    if (hasExchange) df
    else {
      val p = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < p) df.repartition(p) else df
    }
  }

  /** Materialize a candidate id-pair frame, then re-split it for the
    * CPU-bound verify of every filter–verify join (set intersection or a
    * vector dot per pair): AQE's size-based coalescing packs a
    * tiny-by-bytes id-pair list onto a few cores, and checkpointing first
    * lets [[resplit]]'s partition probe read a materialized RDD instead
    * of re-running the candidate join (which, exchange-bearing, it would
    * pass through untouched).
    */
  def fanOut(cand: DataFrame): DataFrame = resplit(cand.localCheckpoint(true))
}
