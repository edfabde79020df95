package graft.pipeline

import java.io.IOException
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Sessions
import graft.streaming.EventStreams

/** Runnable production entry for the EVENTS table — the streaming shape
  * StreamingSpec/ScaleSpec verify piece-by-piece (watermark, bounded-state
  * dedup, foreachBatch upsert idempotence, AvailableNow exactly-once
  * drain) composed into the job a deployment would actually schedule:
  *
  *   I1 stage: land arriving event files in `work/incoming` (two slices —
  *      a base batch, then a delta with ~10% REDELIVERED overlap, the
  *      at-least-once duplicate profile of the reference's
  *      fire-and-forget producer, dags/etl_dags.py:26-27).
  *   I2 ingest: ONE streaming pipeline — dedup on event_id within the
  *      watermark, then the watermarked tumbling (1 hour × event_type)
  *      aggregate — drained with AvailableNow + checkpoint through
  *      [[KafkaIO.drainTo]] (EtlJob's drain), so each scheduler tick
  *      processes exactly the backlog and exits.
  *   I3 upsert: foreachBatch MERGEs each micro-batch's updated windows
  *      into the keyed aggregate store in one shuffle (grouped by
  *      (w_start, event_type), the arriving row wins — q122's SCD1 merge
  *      shape), REPLACING stale window rows rather than appending, and
  *      publishes the merged store by rename, so the store is always
  *      point-in-time correct.
  *
  * Correctness under the failure model, and why each leg is load-bearing:
  *   - redelivered events: dropped by the dedup state while inside the
  *     watermark horizon; beyond it, the WATERMARK drops them before the
  *     aggregate — either way a window's total never double-counts, which
  *     is exactly what makes the overwrite-by-key upsert safe (an evicted
  *     window can never receive a fresh, partial recount).
  *   - foreachBatch replay (at-least-once on crash): the merge is
  *     idempotent — re-merging the same rows replaces equal keys with
  *     equal values — and a sink that dies mid-write leaves the previous
  *     store whole, since the merged store is written beside it and
  *     renamed in only once complete; the replay merges into it again.
  *   - restart: checkpointed source offsets + dedup/agg state mean a
  *     second drain with no new files is a no-op (ScaleSpec pins this for
  *     the drain; this job demonstrates it end-to-end).
  *
  * Update-mode emission: each micro-batch emits every window the batch
  * TOUCHED (not only finalized ones), so the store converges without
  * waiting a full watermark delay — the standard trade for
  * dashboard-facing aggregate stores.
  *
  * Usage: runMain graft.pipeline.EventsIngestJob [sfDir] [workDir]
  */
object EventsIngestJob {

  /** Merge a micro-batch of (w_start, event_type, n_events, sum_value)
    * rows into the parquet aggregate store at `storeDir`: arriving keys
    * replace, everything else carries.
    *
    * One shuffle, last writer wins: the store (read with the batch's
    * schema, so no inference job) tagged v = 0 and the batch tagged v = 1
    * are grouped by (w_start, event_type), and each key keeps the row with
    * the larger v. Both sides hold one row per key (update mode emits one
    * row per touched window), so both values come from one row, and the
    * batch is read once: its stateful stage runs once, nothing materialized.
    *
    * Publish by rename: the merge is written to `<storeDir>.next`, then
    * `storeDir` moves to `<storeDir>.prev`, `.next` moves to `storeDir` and
    * `.prev` is deleted, so the store is never emptied before its successor
    * is complete; a concurrent reader finds no store between the two
    * renames. On entry a leftover `.prev` is deleted beside a store (stale)
    * and moved back without one (a crash between the renames; the replayed
    * batch then merges into it again, idempotently).
    */
  def upsertWindows(spark: SparkSession, batch: DataFrame, storeDir: String): Unit = {
    val incoming = batch.select(col("w_start"), col("event_type"),
      col("n_events"), col("sum_value"))
    val store = new Path(storeDir)
    val (next, prev) = (new Path(s"$storeDir.next"), new Path(s"$storeDir.prev"))
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def move(from: Path, to: Path): Unit =
      if (!fs.rename(from, to)) throw new IOException(s"cannot rename $from to $to")
    if (fs.exists(prev) && !fs.exists(store)) move(prev, store)
    fs.delete(prev, true) // stale beside a store
    val stored = fs.exists(store)
    val merged =
      if (!stored) incoming
      else spark.read.schema(incoming.schema).parquet(storeDir).withColumn("v", lit(0))
        .unionByName(incoming.withColumn("v", lit(1)))
        .groupBy(col("w_start"), col("event_type"))
        .agg(max_by(struct(col("n_events"), col("sum_value")), col("v")).as("r"))
        .select(col("w_start"), col("event_type"), col("r.n_events"), col("r.sum_value"))
    merged.write.mode("overwrite").parquet(next.toString)
    if (stored) move(store, prev)
    move(next, store)
    fs.delete(prev, true)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val work = args.lift(1).getOrElse(Files.createTempDirectory("graft_events").toString)
    val spark = Sessions.local("graft-events-ingest")
    spark.sparkContext.setLogLevel("WARN")
    val ok = run(spark, sfDir, work)
    spark.stop()
    if (!ok) sys.exit(1)
  }

  /** The two-tick ingest, callable against an existing session (the spec
    * drives it without tearing the shared test session down). Returns
    * whether the conservation invariant held.
    */
  def run(spark: SparkSession, sfDir: String, work: String): Boolean = {
    val (incoming, ckpt, store) = (s"$work/incoming", s"$work/ckpt", s"$work/agg")
    val t0 = System.nanoTime()

    val source = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val nSource = source.count()

    def drain(): Unit = {
      val stream = spark.readStream.schema(spark.read.parquet(incoming).schema)
        .parquet(incoming)
      val deduped = EventStreams.dedupWithinWatermark(stream, "30 minutes", Seq("event_id"))
      val agg = EventStreams.tumbling(deduped, "1 hour")
      KafkaIO.drainTo(agg, ckpt)((b, _) => upsertWindows(spark, b, store))
        .outputMode("update").start().awaitTermination()
    }

    // Slice by TIME, the real arrival order of a stream: tick 1 lands
    // everything up to the 90th time percentile, tick 2 the rest — PLUS a
    // REDELIVERY of the 20 minutes just before the cutoff (recent enough
    // to still sit inside tick 1's dedup state, the at-least-once profile
    // a crashed-and-restarted producer actually has). One driver-side
    // scalar computes the cutoff — job orchestration, not a data path.
    val cutUs = source.agg(expr("percentile(unix_micros(ts), 0.9D)"))
      .head().getDouble(0).toLong
    val cut = lit(cutUs).cast("long")
    val tsUs = unix_micros(col("ts"))

    // I1+I2+I3, tick 1: the base slice (first 90% of the timeline)
    source.filter(tsUs <= cut)
      .write.mode("overwrite").parquet(s"$incoming/slice=base")
    drain()
    val afterBase = spark.read.parquet(store)
      .agg(count(lit(1)), sum(col("n_events"))).head()
    println(s"[events-ingest] tick 1: ${afterBase.getLong(0)} window rows, " +
      s"${afterBase.getLong(1)} events aggregated (timeline ≤ p90)")

    // tick 2: the tail of the timeline + the redelivered recent window
    source.filter(tsUs > cut - lit(20L * 60 * 1000000) && tsUs <= cut)
      .unionByName(source.filter(tsUs > cut))
      .write.mode("overwrite").parquet(s"$incoming/slice=delta")
    drain()

    val agg = spark.read.parquet(store)
    val Seq(nWindows, nEvents) = {
      val r = agg.agg(count(lit(1)), sum(col("n_events"))).head()
      Seq(r.getLong(0), r.getLong(1))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[events-ingest] tick 2: $nWindows window rows, $nEvents of " +
      f"$nSource source events aggregated in $secs%.1fs " +
      "(redelivered overlap deduplicated — no window double-counts)")
    agg.orderBy(col("w_start"), col("event_type")).limit(5).collect()
      .foreach(r => println(s"[events-ingest] sample: $r"))
    // conservation: in-order arrival means nothing is late, so every
    // source event aggregates exactly once despite the redelivery —
    // any inequality is a dedup or double-count bug
    if (nEvents != nSource) {
      println(s"[events-ingest] FAILED: $nEvents aggregated != $nSource source " +
        "events — redelivery double-counted or in-order events dropped")
      false
    } else true
  }
}
