package graft.queries

import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Storage-layout scale levers, made first-class and oracle-checked.
  *
  * Everything else in the engine treats the input layout as given; at
  * 100 TB the layout IS the optimization. The three levers every large
  * warehouse deployment turns, each demonstrated end-to-end here (write
  * the layout, query through it, pin the plan property that makes it
  * fast):
  *
  *   - '''Bucketing''' (q102): pre-hash-partition both sides of a
  *     recurring fact-fact join on the join key at WRITE time, so every
  *     subsequent join co-locates by bucket file and plans ZERO shuffle
  *     under the join — the exchange that would move the whole fact
  *     table per query is paid once, at load. (The reference pipeline
  *     re-sorts its table per run; a bucketed layout is the warehouse
  *     answer to that same cost.)
  *   - '''Static partition pruning''' (q103): date-partitioned layout +
  *     a literal date predicate → the scan lists only the matching
  *     partition directories. At 100 TB with daily partitions, a 3-day
  *     query reads 3/N of the data before a single task launches.
  *   - '''Dynamic partition pruning''' (q104): the date predicate lives
  *     on a DIMENSION, not the fact — Catalyst broadcasts the filtered
  *     dim, collects its partition keys at runtime, and prunes the fact
  *     scan with them (visible as `dynamicpruningexpression` in the
  *     scan's PartitionFilters). This is the star-schema pruning path a
  *     literal predicate can't express.
  *
  * Layout tables are materialized once per (session, sfDir) through the
  * central memo registry ([[Dedup.Memo]]) — the write cost is a
  * load-time cost, labeled in the bench's `memo_builds` attribution like
  * every other shared surface, and the memo is the ONLY reuse: every
  * build writes a fresh path and table name ([[saveLayout]]), so
  * [[Dedup.clearMemos]] alone makes the next consumer rebuild from the
  * current corpus, and a rebuild (after a clear, or in a `newSession()`
  * clone) never touches files an older frame still reads.
  *
  * Fixture constants: [[BucketCount]] = 8 buckets suits the ≤600k-row
  * harness tables (one ~9 MB bucket file each); a 100 TB deployment
  * sizes buckets to HDFS-block-ish files (thousands of buckets) — the
  * plan shape demonstrated here is bucket-count-independent, requiring
  * only equal counts on both join sides. Daily date partitions are the
  * production convention already (events span 30 days at every sf).
  */
object Layout {
  /** Buckets per table — equal on both join sides, which is all the
    * co-location proof needs (see class doc for production sizing). */
  val BucketCount = 8

  /** Root for the materialized layouts: a PER-JVM temp directory, so no
    * two JVMs ever share a layout path. Scratch semantics on purpose —
    * the layouts are derived state, rebuilt by their memos and left for
    * the temp-dir reaper (exactly like Spark's own spill/temp dirs).
    */
  private lazy val layoutRoot: String =
    java.nio.file.Files.createTempDirectory("graft_layout").toString

  private val layoutSeq = new java.util.concurrent.atomic.AtomicLong()

  /** The one layout write path: save `w` as an external parquet table
    * under a path and catalog name no earlier build used, and return it
    * as read through the catalog. The catalog carries the metadata the
    * layouts exist for — the bucket spec (q102's exchange-free join) and
    * the partition index that prunes the file listing at planning time
    * (q103/q104). Nothing is ever overwritten or deleted, so a frame a
    * session resolved before a rebuild keeps reading its own files.
    */
  private def saveLayout(s: SparkSession, tag: String, w: DataFrameWriter[Row]): DataFrame = {
    val name = s"graft_${tag}_${layoutSeq.incrementAndGet()}"
    w.format("parquet").option("path", s"$layoutRoot/$name").saveAsTable(name)
    s.table(name)
  }

  /** Write `build` bucketed by `key` as an external parquet table and
    * return it as read through the catalog (bucket metadata attached) —
    * q102's raw-table layouts and the durable indexes in Retrieval,
    * Similarity, Clustering and TrainingData. Call it inside the
    * surface's memo: every call is a fresh build ([[saveLayout]]).
    *
    * The `repartition(BucketCount, key)` before the write aligns writer
    * tasks 1:1 with buckets (Spark's bucket hash and `repartition`'s are
    * the same Murmur3 `HashPartitioning`), so each bucket is exactly ONE
    * file — the layout that lets a sorted bucketed scan also skip the
    * join sort, and the file-count discipline (tasks × buckets files
    * otherwise) any production bucketed load needs.
    *
    * Note on the residual per-task Sorts visible under q102's default
    * plan: since SPARK-28595, Spark does NOT report the bucket-sort
    * ordering from a file scan by default — proving it requires a
    * planning-time file listing to establish one-file-per-bucket, which
    * was judged too expensive to do unconditionally. The exchange
    * elimination (the expensive property) is always planned; the sort
    * elimination additionally needs
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true`, under
    * which this layout's sorts provably vanish (pinned in PlanSpec) —
    * the deployment-side switch a production install of this layout
    * flips. The default-plan residual sort is per-bucket-partition and
    * spillable, never a scale hazard.
    */
  private[graft] def materializeBucketed(s: SparkSession, tag: String, key: String)(
      build: DataFrame): DataFrame =
    saveLayout(s, s"${tag}_b", build
      .repartition(BucketCount, col(key))
      .write.bucketBy(BucketCount, key).sortBy(key))

  val bucketedLineitem = new Dedup.Memo[DataFrame]("bucketed_lineitem")((s, dir) =>
    materializeBucketed(s, "lineitem", "l_orderkey")(Tables.lineitem(s, dir)))

  val bucketedOrders = new Dedup.Memo[DataFrame]("bucketed_orders")((s, dir) =>
    materializeBucketed(s, "orders", "o_orderkey")(Tables.orders(s, dir)))

  /** Events re-laid-out as a date-partitioned external table
    * (`event_date=YYYY-MM-DD/` directories, the universal warehouse
    * convention for append-only event data). `repartition(event_date)`
    * gives one file per partition directory at fixture scale; partition
    * column type inference reads `event_date` back as a real DATE.
    */
  val partitionedEvents = new Dedup.Memo[DataFrame]("events_by_date")((s, dir) =>
    saveLayout(s, "events_p", Tables.events(s, dir)
      .withColumn("event_date", to_date(col("ts")))
      .repartition(col("event_date"))
      .write.partitionBy("event_date")))

  /** q102: fact-fact revenue rollup through the BUCKETED layout — the
    * join co-locates by bucket and plans no exchange under the join
    * (pinned in PlanSpec). The `merge` hint encodes the fact-fact
    * intent: at 100 TB neither side broadcasts, and the whole point of
    * the bucketed layout is that the sort-merge join then needs no
    * shuffle at all; without the hint the ≤9 MB fixture orders table
    * would take the broadcast path and demonstrate nothing.
    *
    * Sums follow the engine's decimal-cast convention (q16): cast each
    * term to DECIMAL(18,6) so both engines sum exactly and
    * order-independently, then present as double.
    */
  def q102BucketedJoin(s: SparkSession, dir: String): DataFrame = {
    val li  = bucketedLineitem(s, dir)
    val ord = bucketedOrders(s, dir).hint("merge")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  val q102Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** q103: literal 3-day window over the date-partitioned layout — the
    * predicate lands in the scan's PartitionFilters (pinned in
    * PlanSpec), so only 3 of the 30 partition directories are listed or
    * read. The oracle computes the same dates from raw `ts`. */
  def q103PartitionPruned(s: SparkSession, dir: String): DataFrame = {
    val lo = lit("2024-01-10").cast("date")
    val hi = lit("2024-01-12").cast("date")
    partitionedEvents(s, dir)
      .filter(col("event_date").between(lo, hi))
      .groupBy(col("event_date"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      // DATE → TIMESTAMP for the oracle compare, the q46 convention
      .select(col("event_date").cast("timestamp").as("event_date"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy("event_date", "event_type")
  }

  val q103Sql: String =
    """SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS event_date, event_type, COUNT(*) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q104: the same pruning, but the date restriction lives on a
    * dimension (mid-month days 8–14), joined to the fact on the
    * partition key — static pruning cannot see it, DYNAMIC partition
    * pruning broadcasts the filtered dim and prunes the fact scan at
    * runtime (`dynamicpruningexpression` in its PartitionFilters,
    * pinned in PlanSpec). The dim here is derived from the partitioned
    * table itself (distinct partition values — a metadata-sized frame);
    * a production star schema would join a real date dimension, with
    * the identical plan shape.
    */
  def q104DynamicPruning(s: SparkSession, dir: String): DataFrame = {
    val ev = partitionedEvents(s, dir)
    val dim = ev.select(col("event_date")).distinct()
      .filter(dayofmonth(col("event_date")).between(8, 14))
    ev.join(dim, Seq("event_date"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy("event_type")
  }

  val q104Sql: String =
    """WITH dim AS (SELECT DISTINCT CAST(ts AS DATE) AS event_date FROM events)
      |SELECT event_type, COUNT(*) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events e JOIN dim d ON CAST(e.ts AS DATE) = d.event_date
      |WHERE EXTRACT(DAY FROM d.event_date) BETWEEN 8 AND 14
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** 8-bit Morton bit-spread (x → x with a zero bit between every pair):
    * the classic mask cascade, pure integer bitwise ops. */
  private def spread8(c: Column): Column = {
    val a = c.bitwiseOR(shiftleft(c, 4)).bitwiseAND(lit(0x0F0F))
    val b = a.bitwiseOR(shiftleft(a, 2)).bitwiseAND(lit(0x3333))
    b.bitwiseOR(shiftleft(b, 1)).bitwiseAND(lit(0x5555))
  }

  /** 16-bit Morton interleave of two 8-bit codes (x even bits, y odd). */
  private[graft] def morton(x: Column, y: Column): Column =
    spread8(x).bitwiseOR(shiftleft(spread8(y), 1))

  /** Events re-laid-out on a 2-D Z-ORDER (Morton) curve over (user_id,
    * day) — the multi-dimensional clustering lever (Delta/Iceberg
    * OPTIMIZE ZORDER BY): range-partition + sort by the interleaved
    * code, and every file's min/max footer stats become tight on BOTH
    * dimensions at once, so a 2-D box predicate skips most files — the
    * pruning a single-column sort can only deliver for its own column.
    *
    * user_id quantizes to 8 bits against data-driven bounds carried by a
    * broadcast 1-row bounds frame (the same sampling job a production
    * z-order write runs; never a driver-side collect); day is already
    * 5-bit and stretches monotonically across the byte. The layout is a
    * one-time write cost, exactly like [[materializeBucketed]].
    */
  private[graft] val zorderedEvents = new Dedup.Memo[DataFrame]("events_zorder")((s, dir) => {
    val ev = Tables.events(s, dir)
    val bounds = ev.agg(min(col("user_id")).as("u_lo"), max(col("user_id")).as("u_hi"))
    saveLayout(s, "events_z", ev.crossJoin(broadcast(bounds))
      .withColumn("x8", floor((col("user_id") - col("u_lo")) * 256 /
        (col("u_hi") - col("u_lo") + 1)).cast("int"))
      .withColumn("y8", ((dayofmonth(col("ts")) - 1) * 8).cast("int"))
      .withColumn("zcode", morton(col("x8"), col("y8")))
      .drop("u_lo", "u_hi", "x8", "y8")
      .repartitionByRange(ZFiles, col("zcode"))
      .sortWithinPartitions(col("zcode"))
      .write)
  })

  /** Target file count for the z-ordered layout (fixture-sized; a 100 TB
    * deployment targets HDFS-block-ish files, same curve). */
  val ZFiles = 16

  /** q113: 2-D box query over the z-ordered layout — user slice × day
    * slice, answered from [[zorderedEvents]]. The result is layout-
    * independent (the oracle computes it from raw events); what the
    * layout buys is FILE SKIPPING, pinned in LayoutSpec: under the
    * z-order clustering, at most half the files' (user_id, day) min/max
    * envelopes intersect the box, while a day-only or user-only sort
    * leaves the other dimension's envelope full-width in every file.
    * The user_id half of the predicate also pushes down to the parquet
    * row-group stats (PushedFilters, pinned).
    */
  def q113ZorderBox(s: SparkSession, dir: String): DataFrame =
    zorderedEvents(s, dir)
      .filter(col("user_id").between(3, 5) && dayofmonth(col("ts")).between(5, 9))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy("event_type")

  val q113Sql: String =
    """SELECT event_type, COUNT(*) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE user_id BETWEEN 3 AND 5 AND EXTRACT(DAY FROM ts) BETWEEN 5 AND 9
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q134

  /** Compaction target: output-file size (chars here; bytes in a real
    * deployment — e.g. 128·2²⁰ for 128 MB parquet files). Chosen so the
    * fixtures yield several bins per source with multi-doc bins.
    */
  val CompactTarget: Long = 1024L

  /** q134: small-file COMPACTION planner — the fourth storage-layout
    * lever. A 100 TB table ingested incrementally accretes millions of
    * KB-sized files; every query then pays file-listing latency and
    * one scan task per tiny file. The fix is periodic compaction:
    * concatenate each partition's files, in order, into ~target-sized
    * outputs. This operator emits the PLAN — for every (source, bin):
    * how many inputs coalesce, the resulting size, and the contiguous
    * [first_doc, last_doc] id range — using documents-as-files (doc_id =
    * ingest order, n_chars = file size).
    *
    * The chunking rule is TARGET-ALIGNED, not greedy-reset: input i
    * joins bin ⌊exclusive-prefix ∕ target⌋. The greedy reset-on-overflow
    * compactor's per-bin state is a recursion a prefix sum cannot
    * express (it needs a sequential pass per partition); the aligned
    * rule is a pure function of the running total, so ONE window pass
    * computes it identically in both engines, and the bin count is
    * exactly ⌈partition_size ∕ target⌉ — a bin's overshoot deducts from
    * the NEXT bin's capacity instead of accumulating, so the long-run
    * average output size IS the target. Consequences, both directions:
    * a bin may exceed the target by less than its last input (inputs
    * never split), and the bin after an overshoot may close under
    * target by the same amount.
    *
    * Scale shape: one scan, one source-partitioned window (running
    * total), bin assignment as map-side arithmetic on the EXCLUSIVE
    * prefix (`cum − size`, so the input that crosses a boundary stays in
    * the bin it started in), and a (source, bin)-keyed aggregate.
    * Partitions compact independently — exactly how the real job would
    * fan out one compaction task per partition.
    */
  def q134CompactionPlan(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("cum", sum(col("n_chars")).over(w))
      .withColumn("bin",
        floor((col("cum") - col("n_chars")) / lit(CompactTarget)).cast("long"))
      .groupBy(col("source"), col("bin"))
      .agg(
        count(lit(1)).as("n_inputs"),
        sum(col("n_chars")).as("out_chars"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"), col("bin"))
  }

  val q134Sql: String =
    s"""WITH c AS (
       |  SELECT source, doc_id, n_chars,
       |   SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM documents)
       |SELECT source, CAST(FLOOR((cum - n_chars) / $CompactTarget.0) AS BIGINT) AS bin,
       | CAST(count(*) AS BIGINT) AS n_inputs,
       | CAST(SUM(n_chars) AS BIGINT) AS out_chars,
       | min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY 1, 2 ORDER BY source, bin""".stripMargin
}
