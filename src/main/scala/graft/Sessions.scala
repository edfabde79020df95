package graft

import org.apache.spark.sql.SparkSession

/** Single place where engine sessions are configured, so every entry point
  * (Verify, Bench, tests) runs with identical semantics:
  *
  *   - `shuffle.partitions` sized to the local core count (the harness runs
  *     `local[N]`; on a real cluster this would be tuned to ~2-3× total
  *     cores or left to AQE coalescing).
  *   - UTC session timezone — oracle (DuckDB) parity for timestamps.
  *   - `parquet.nanosAsLong` — TIMESTAMP(NANOS) parquet (older fixture
  *     drops; raw-nanos test fixtures) otherwise fails the read in Spark 4;
  *     set once here (not as a hidden side effect of a table loader) so
  *     behavior is call-order-independent. [[Tables.events]] dispatches on
  *     the resulting dtype, so both nanos-long and timestamp[us] drops load.
  *   - AQE on (Spark 4 default, made explicit): runtime coalescing of
  *     shuffle partitions and skew-join splitting are part of the scale
  *     design, not an accident of defaults.
  *
  * Sessions carry no extensions: engine code calls its native expressions
  * (e.g. [[graft.functions.DotFold.dotFold]]) through the Column API.
  */
object Sessions {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // ObjectHashAggregate (TypedImperativeAggregates like TopKPairs)
      // falls back to SORT-based aggregation after this many in-memory
      // keys — the default 128 silently turns a bounded-heap top-k into
      // a full sort. Our object buffers are tiny (k pairs), so a large
      // in-memory key budget is safe.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.ui.enabled", "false")

  /** Session for the harness mains: `local[$SPARK_GRAFT_CPUS]`, with one
    * shuffle partition per core. */
  def local(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    builder(s"local[$cpus]", cpus).appName(appName).getOrCreate()
  }
}
