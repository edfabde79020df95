package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.{Sessions, SparkEntry}
import graft.pipeline.{CustomerPipeline, EtlDag, EtlTask, EventsIngestJob, KafkaIO}
import graft.queries.Dedup
import graft.streaming.EventStreams

/** The benchmark's JVM side: one workload, one seed, one run.
  *
  * Usage (normally through perfbench/run.py, which builds the classpath,
  * stages the inputs and checks the ops outputs):
  *   graft.perfbench.Main key=value ...
  *     workload=etl_daily|events_stream|ops_sf001  seed=N  seconds=N
  *     trace=0|1  work=DIR  inputs=DIR  out=FILE  [queries=name:Object,...]
  *     [etl_rows=N]
  *
  * Every engine call goes through the engine's public entry points
  * (Sessions, CustomerPipeline/KafkaIO/EtlDag, EventStreams,
  * EventsIngestJob.upsertWindows, SparkEntry.queries, the Dedup memo
  * registry); this side only times them and checks their outputs.
  * It writes one JSON result to `out`.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val wl = a("workload")
    val run = new Run(a)
    val result =
      try {
        run.setup()
        wl match {
          case "etl_daily"     => new EtlDaily(run).go()
          case "events_stream" => new EventsStream(run).go()
          case "ops_sf001"     => new Ops(run).go()
          case other           => sys.error(s"unknown workload $other")
        }
        run.mark("done_s")
        run.result()
      } finally run.stop()
    Files.writeString(Paths.get(a("out")), Json(result))
  }
}

/** State shared by the workloads: arguments, the session, load samples and
  * the metric maps the result is built from.
  */
final class Run(val a: Map[String, String]) {
  val workload: String = a("workload")
  val seed: Long = a("seed").toLong
  val seconds: Double = a("seconds").toDouble
  val traced: Boolean = a("trace") == "1"
  val work: String = a("work")
  val inputs: String = a("inputs")
  var spark: SparkSession = _

  val e2e = mutable.LinkedHashMap.empty[String, Any]
  /** Workload-specific names for the end-to-end figures (etl_rows_per_s, ...). */
  val named = mutable.LinkedHashMap.empty[String, Map[String, Any]]
  val layers = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.LinkedHashMap.empty[String, Any]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  private val loadSamples = mutable.ArrayBuffer.empty[Double]
  private def load1m(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
  private val loadStart = load1m()
  private val sampler = new Thread(() => {
    try while (true) { loadSamples.synchronized(loadSamples += load1m()); Thread.sleep(500) }
    catch { case _: InterruptedException => () }
  })
  sampler.setDaemon(true)
  sampler.start()

  def fail(what: String): Unit = { failed += 1; failures += what }

  /** Called right before the first timed call: set-up ends here. */
  def clockStarts(): Unit = {
    mark("first_timed_call_s")
    extra("first_timed_call_epoch_s") = System.currentTimeMillis() / 1000.0
  }

  /** Seconds since the JVM started, under `extra(key)`. */
  def mark(key: String): Unit = extra(key) =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** The cold set-up: session start, warmup and input staging, once, in a
    * fresh JVM. `setup_s` (run.py) runs from the benchmark process start
    * to the end of this; the session's share goes to the layer metrics.
    */
  def setup(): Unit = {
    val t0 = System.nanoTime()
    spark = Sessions.local(s"perfbench-$workload")
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    spark.range(1000000).selectExpr("sum(id) s").write.mode("overwrite").format("noop").save()
    stage()
    val t2 = System.nanoTime()
    // a stream needs its recent progress kept for the whole run
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    layers("session.start_s") = (t1 - t0) / 1e9
    layers("session.warmup_s") = (t2 - t1) / 1e9
  }

  def name(key: String, value: Double, unit: String): Unit =
    named(key) = Map("value" -> value, "unit" -> unit)

  /** Per-workload input staging inside the session: touch every input the
    * timed region reads, so first-read costs land in set-up.
    */
  private def stage(): Unit = workload match {
    case "etl_daily" => spark.read.parquet(s"$inputs/customers.parquet").count()
    case "events_stream" =>
      // an AvailableNow drain of a smaller backlog through the measured
      // plan, 4 batches, so the streaming code is warm before the clock starts
      val dir = Files.createTempDirectory(Paths.get(work), "warm").toString
      val q = EventsStream.plan(spark, spark.readStream.schema(EventsStream.schema(spark, inputs))
          .option("maxFilesPerTrigger", EventsStream.FilesPerBatch.toLong).parquet(s"$inputs/warm"))
        .writeStream.outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (b: DataFrame, _: Long) => EventsIngestJob.upsertWindows(spark, b, s"$dir/agg") }
        .start()
      q.awaitTermination()
    case _ =>
      Ops.Tables.foreach(t => spark.read.parquet(s"$inputs/$t.parquet").count())
      val r = spark.read.parquet(s"$inputs/region.parquet")
      r.join(broadcast(r.limit(1)), Seq("r_regionkey")).write.mode("overwrite").format("noop").save()
  }

  def stop(): Unit = {
    sampler.interrupt()
    if (spark != null) spark.stop()
  }

  def result(): Map[String, Any] = {
    val samples = loadSamples.synchronized(loadSamples.toList)
    val cpus = Runtime.getRuntime.availableProcessors()
    val peak = (loadStart :: samples).max
    Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toList,
      "e2e" -> e2e.toMap, "named" -> named.toMap, "layers" -> layers.toMap, "checks" -> checks.toMap,
      "extra" -> extra.toMap,
      "evidence" -> Map(
        "nproc" -> cpus,
        "spark_graft_cpus" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", "unset"),
        "master" -> spark.sparkContext.master,
        "load1m_start" -> loadStart, "load1m_peak" -> peak,
        "load1m_end" -> load1m(),
        // the benchmark itself keeps up to nproc cores busy; a 1-minute
        // load well beyond that means something else shared the host
        "contended" -> (peak > cpus + 2.0),
        "peak_rss_mb" -> Stats.peakRssMb()))
  }

  /** Seconds of wall time taken by `f`. */
  def time(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }

  def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        !f.getFileName.toString.startsWith(".") && !f.getFileName.toString.startsWith("_"))
        .map(Files.size(_)).sum
      finally s.close()
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile; with fewer than 1/(1-q) samples this is the max. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    if (q == 0.5) {
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    } else s(math.min(s.length - 1, math.ceil(q * s.length).toInt - 1))
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

/** Minimal JSON writer for the result record. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

/** `etl_daily`: the reference DAG, produce >> consume >> upload, composed as
  * [[graft.pipeline.EtlJob]] composes it, under `EtlDag(retries = 1)`, in a
  * closed loop (one DAG run at a time). The seeded source table stands in
  * for MySQL, parquet directories for the Kafka topic, sink and bucket.
  */
object EtlDaily {
  val WarmRuns = 5
}

final class EtlDaily(r: Run) {
  private val src = s"${r.inputs}/customers.parquet"
  private val nRows = r.a("etl_rows").toLong

  private final case class DagRun(dir: String, wall: Double, produce: Double, consume: Double,
      upload: Double, uploadMaxTaskS: Double, attempts: Int, batches: Int, ok: Boolean)

  private def dag(dir: String, trace: Option[Trace]): DagRun = {
    val spark = r.spark
    val (topic, sink, ckpt, export) = (s"$dir/topic", s"$dir/sink", s"$dir/ckpt", s"$dir/etl_output")
    var (tp, tc, tu, maxTask, batches) = (0.0, 0.0, 0.0, 0.0, 0)
    val produce = EtlTask("produce", () => tp += r.time {
      CustomerPipeline.toKafkaFrame(spark.read.parquet(src)).write.mode("overwrite").parquet(topic)
    })
    val consume = EtlTask("consume", () => tc += r.time {
      val stream = spark.readStream.schema(spark.read.parquet(topic).schema).parquet(topic)
      val q = KafkaIO.drainTo(stream, ckpt) { (batch, id) =>
        batches += 1
        CustomerPipeline.fromKafkaFrame(batch).write.mode("overwrite").parquet(s"$sink/batch=$id")
      }.start()
      q.awaitTermination()
    })
    val upload = EtlTask("upload", () => {
      trace.foreach(_.snap())
      tu += r.time {
        CustomerPipeline.exportJsonArray(spark.read.parquet(sink))
          .coalesce(1).write.mode("overwrite").text(export)
      }
      trace.foreach(t => maxTask = t.snap().maxTaskMs / 1000.0)
    })
    val t0 = System.nanoTime()
    val report = new EtlDag(Seq(produce, consume, upload), retries = 1).runOnce()
    val wall = (System.nanoTime() - t0) / 1e9
    DagRun(dir, wall, tp, tc, tu, maxTask, report.tasks.map(_.attempts).sum, batches,
      report.succeeded)
  }

  /** Closed loop for `seconds`; at least `minRuns` DAG runs. */
  private def loop(tag: String, minRuns: Int, trace: Option[Trace]): Seq[DagRun] = {
    val runs = mutable.ArrayBuffer.empty[DagRun]
    val t0 = System.nanoTime()
    while (runs.length < minRuns || (minRuns == 0 && (System.nanoTime() - t0) / 1e9 < r.seconds)) {
      val d = dag(s"${r.work}/etl_$tag${runs.length}", trace)
      r.attempted += 1
      if (!d.ok) r.fail(s"dag run ${d.dir} failed")
      runs += d
      if (minRuns > 0 && runs.length >= minRuns) return runs.toSeq
    }
    runs.toSeq
  }

  def go(): Unit = {
    // untimed DAG runs first, part of set-up: a DAG run takes ~5 runs to
    // reach steady state (JIT); their outputs are checked like every other
    val warm = loop("w", EtlDaily.WarmRuns, None)
    r.clockStarts()
    val runs = loop("u", 0, None)
    r.mark("timed_done_s")
    val walls = runs.map(_.wall)
    // rows through all three tasks per second of DAG wall time
    r.e2e("throughput_per_s") = nRows * runs.length / walls.sum
    r.e2e("latency_p50_ms") = Stats.median(walls) * 1000
    r.e2e("latency_p99_ms") = Stats.quantile(walls, 0.99) * 1000
    r.name("etl_rows_per_s", r.e2e("throughput_per_s").asInstanceOf[Double], "rows/s")
    r.extra("etl_rows") = nRows
    r.extra("dag_runs") = runs.length
    r.extra("dag_walls_s") = walls
    if (r.traced) {
      // four untraced/traced pairs of DAG runs, alternating, so JIT warm-up
      // biases neither side of trace.overhead_s
      val trace = new Trace(r.spark)
      var c = Counts(0, 0, 0, 0, 0, 0, 0, 0, 0)
      val pairs = (0 until 4).map { i =>
        val plain = loop(s"p$i", 1, None).head
        trace.install()
        val c0 = trace.snap()
        val t = loop(s"t$i", 1, Some(trace)).head
        c = c + (trace.snap() - c0)
        trace.uninstall()
        (plain, t)
      }
      val traced = pairs.map(_._2)
      val one = traced.last
      r.layers ++= Seq(
        "etl.produce_s" -> Stats.median(traced.map(_.produce)),
        "etl.consume_s" -> Stats.median(traced.map(_.consume)),
        "etl.upload_s" -> Stats.median(traced.map(_.upload)),
        "etl.upload_max_task_s" -> Stats.median(traced.map(_.uploadMaxTaskS)),
        "etl.task_attempts" -> traced.map(_.attempts).sum / traced.length,
        "etl.consume_batches" -> traced.map(_.batches).sum / traced.length,
        "etl.topic_bytes" -> r.dirBytes(s"${one.dir}/topic"),
        "etl.sink_bytes" -> r.dirBytes(s"${one.dir}/sink"),
        "etl.export_bytes" -> r.dirBytes(s"${one.dir}/etl_output"),
        "etl.jobs" -> c.jobs / traced.length, "etl.stages" -> c.stages / traced.length,
        "etl.tasks" -> c.tasks / traced.length,
        "trace.overhead_s" -> Stats.median(pairs.map(p => p._2.wall - p._1.wall)))
      check(warm ++ runs ++ pairs.flatMap(p => Seq(p._1, p._2)))
    } else check(warm ++ runs)
  }

  /** Sink == source (as multisets), and the export parses to nRows rows
    * sorted by id. Outside the timed loop.
    */
  private def check(runs: Seq[DagRun]): Unit = {
    val spark = r.spark
    // multiset digest: row count and the sum of per-row 64-bit hashes
    def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
      val row = df.select(CustomerPipeline.CustomerSchema.fieldNames.map(col).toSeq: _*)
        .agg(count(lit(1)), sum(xxhash64(col("*")).cast("decimal(38,0)"))).head()
      (row.getLong(0), row.getDecimal(1))
    }
    val source = digest(spark.read.parquet(src))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    var good = 0
    runs.filter(_.ok).foreach { d =>
      val sinkOk = digest(spark.read.parquet(s"${d.dir}/sink")) == source
      val part = Files.list(Paths.get(s"${d.dir}/etl_output")).iterator().asScala
        .find(_.getFileName.toString.startsWith("part-"))
      val ids = part.map { p =>
        val arr = mapper.readTree(p.toFile)
        (0 until arr.size()).map(i => arr.get(i).get("id").asLong())
      }.getOrElse(Seq.empty)
      val exportOk = ids.length == nRows && ids.zip(ids.drop(1)).forall { case (x, y) => x < y }
      if (sinkOk && exportOk) good += 1
      else r.fail(s"${d.dir}: sink==source $sinkOk, export sorted $nRows rows $exportOk")
    }
    r.checks("etl_runs_verified") = good
  }
}

/** `events_stream`: an open-loop generator process lands event files on a
  * fixed schedule; the job is dedupWithinWatermark → tumbling("1 hour") →
  * foreachBatch(upsertWindows) in update mode. A file source stands in for
  * the Kafka topic (no broker or spark-sql-kafka jar is available).
  *
  * Capacity comes from draining a standing backlog of event files
  * (`FilesPerBatch` files, ~20k events, per micro-batch): the rate at which a saturated
  * job shrinks its backlog, i.e. the highest sustainable rate at that
  * batch size. Latency comes from `seconds` of open-loop load at
  * `RefEps`, below capacity.
  */
object EventsStream {
  /** Events per second of the open-loop latency run, well below capacity. */
  val RefEps = 1000.0
  /** Backlog files (~10k events each) per micro-batch of a drain. */
  val FilesPerBatch = 2

  def schema(spark: SparkSession, inputs: String): org.apache.spark.sql.types.StructType =
    spark.read.parquet(s"$inputs/warm").schema

  def plan(spark: SparkSession, stream: DataFrame): DataFrame =
    EventStreams.tumbling(
      EventStreams.dedupWithinWatermark(stream, "30 minutes", Seq("event_id")), "1 hour")
}

final class EventsStream(r: Run) {
  private val tickS = 0.25
  private val speed = 1800.0
  type Progress = org.apache.spark.sql.streaming.StreamingQueryProgress

  private final case class Phase(latencies: Seq[Double], progress: Seq[Progress],
      commitMs: Seq[Double], storeRows: Seq[Long], genLateMs: Seq[Double],
      lagS: Seq[Double], busyS: Double)

  /** The measured query over `landing`; batch commit ends go to `commitEnd`. */
  private def start(landing: String, dir: String, trace: Option[Trace],
      commitEnd: java.util.Map[Long, Double], commitMs: mutable.Buffer[Double],
      storeRows: mutable.Buffer[Long], filesPerBatch: Option[Int]): StreamingQuery = {
    val spark = r.spark
    val reader = spark.readStream.schema(EventsStream.schema(spark, r.inputs))
    filesPerBatch.foreach(n => reader.option("maxFilesPerTrigger", n.toLong))
    val w = EventsStream.plan(spark, reader.parquet(landing))
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$dir/ckpt")
    if (filesPerBatch.isDefined) w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    w.foreachBatch { (b: DataFrame, id: Long) =>
        val t = System.nanoTime()
        EventsIngestJob.upsertWindows(spark, b, s"$dir/agg")
        commitEnd.put(id, System.currentTimeMillis().toDouble)
        commitMs += (System.nanoTime() - t) / 1e6
        if (trace.isDefined) storeRows += spark.read.parquet(s"$dir/agg").count()
        ()
      }
      .start()
  }

  private def measure(tag: String, trace: Option[Trace]): Phase = {
    val spark = r.spark
    val dir = s"${r.work}/stream_$tag"
    val landing = s"$dir/landing"
    Files.createDirectories(Paths.get(landing))
    val commitEnd = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    val commitMs = mutable.ArrayBuffer.empty[Double]
    val storeRows = mutable.ArrayBuffer.empty[Long]
    val q = start(landing, dir, trace, commitEnd, commitMs, storeRows, None)
    val startAt = System.currentTimeMillis() / 1000.0 + 1.0
    val genLog = s"$dir/generator.json"
    val cfg = Json(Map("landing" -> landing, "seed" -> (r.seed * 7919 + tag.hashCode),
      "start_at" -> startAt, "phases" -> Seq(Seq(r.seconds, EventsStream.RefEps)),
      "tick_s" -> tickS, "speed" -> speed, "log" -> genLog))
    val gen = new ProcessBuilder("python3", r.a("gen"), "stream", cfg).inheritIO().start()
    val genOk = gen.waitFor() == 0
    q.processAllAvailable()
    q.stop()
    r.mark(s"drained_${tag}_s")
    if (!genOk) r.fail("event generator failed")
    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)

    // file -> batch from the file source's commit log; batch -> commit end
    val fileBatch = mutable.Map.empty[String, Long]
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Files.list(Paths.get(s"$dir/ckpt/sources/0")).iterator().asScala
      .filterNot(_.getFileName.toString.startsWith("."))
      .foreach { f =>
        Files.readAllLines(f).asScala.drop(1).filter(_.startsWith("{")).foreach { l =>
          val n = mapper.readTree(l)
          fileBatch(Paths.get(new java.net.URI(n.get("path").asText())).getFileName.toString) =
            n.get("batchId").asLong()
        }
      }
    import spark.implicits._
    val fc = fileBatch.toSeq.flatMap { case (f, b) => Option(commitEnd.get(b)).map(f -> _.doubleValue) }
      .toDF("file", "commit_ms")
    // per event, its first delivery's commit; null if no batch committed it
    val perEvent = spark.read.parquet(landing)
      .withColumn("file", regexp_extract(input_file_name(), "([^/]+)$", 1))
      .join(fc, Seq("file"), "left")
      .groupBy("event_id").agg(min(col("commit_ms") - col("created_ms")).as("lat"))
      .collect()
    val latencies = perEvent.filterNot(_.isNullAt(1)).map(_.getDouble(1)).toSeq
    if (latencies.length != perEvent.length)
      r.fail(s"$tag: ${perEvent.length - latencies.length} events never committed")
    r.attempted += perEvent.length
    // a file lands at its tick's due time; lag = batch start - landing
    val batchStart = progress.map(p => p.batchId ->
      java.time.Instant.parse(p.timestamp).toEpochMilli / 1000.0).toMap
    val lagS = fileBatch.toSeq.flatMap { case (f, b) =>
      batchStart.get(b).map(_ - (startAt + (f.drop(1).take(6).toInt + 1) * tickS))
    }
    val genLate = mapper.readTree(new java.io.File(genLog)).get("late_ms").elements()
      .asScala.map(_.asDouble()).toSeq
    checkStore(tag, landing, s"$dir/agg")
    Phase(latencies, progress, commitMs.toSeq, storeRows.toSeq, genLate, lagS,
      progress.map(_.durationMs.get("triggerExecution").doubleValue).sum / 1000.0)
  }

  /** Events per second while draining the standing backlog. */
  private def capacity(tag: String): Double = {
    val dir = s"${r.work}/drain_$tag"
    val backlog = s"${r.inputs}/backlog"
    val rows = r.spark.read.parquet(backlog).count()
    val q = start(backlog, dir, None, new java.util.concurrent.ConcurrentHashMap[Long, Double](),
      mutable.ArrayBuffer.empty[Double], mutable.ArrayBuffer.empty[Long], Some(EventsStream.FilesPerBatch))
    val s = r.time(q.awaitTermination())
    r.attempted += 1
    checkStore(s"drain_$tag", backlog, s"$dir/agg")
    rows / s
  }

  /** The final store must equal the batch tumbling over the distinct events. */
  private def checkStore(tag: String, landing: String, store: String): Unit = {
    val spark = r.spark
    val expected = EventStreams.tumbling(spark.read.parquet(landing).dropDuplicates("event_id"),
      "1 hour")
    // (w_start, event_type) is a key on both sides: the sets are equal when
    // a full outer join on all four columns leaves no row unmatched
    val unmatched = expected.withColumn("l", lit(1))
      .join(spark.read.parquet(store).withColumn("g", lit(1)),
        Seq("w_start", "event_type", "n_events", "sum_value"), "full_outer")
      .agg(count(lit(1)), sum(when(col("l").isNull || col("g").isNull, 1).otherwise(0)))
      .head()
    val ok = unmatched.getLong(0) > 0 && unmatched.getLong(1) == 0
    r.checks(s"store_equals_batch_$tag") = ok
    if (!ok) r.fail(s"$tag: store differs from batch tumbling over distinct events")
  }

  def go(): Unit = {
    // the drain runs first: its batches also bring the plan's code to
    // steady state before the open-loop latency run
    r.clockStarts()
    val cap = capacity("u")
    val u = measure("u", None)
    r.mark("timed_done_s")
    r.e2e("throughput_per_s") = cap
    r.e2e("latency_p50_ms") = Stats.median(u.latencies)
    r.e2e("latency_p99_ms") = Stats.quantile(u.latencies, 0.99)
    r.extra("latency_samples") = u.latencies.length
    r.extra("latency_batch_ms") = u.progress.map(_.durationMs.get("triggerExecution").doubleValue)
    r.extra("ref_eps") = EventsStream.RefEps
    r.name("stream_sustained_eps", cap, "events/s")
    r.name("stream_latency_p50_ms", Stats.median(u.latencies), "ms")
    r.name("stream_latency_p99_ms", Stats.quantile(u.latencies, 0.99), "ms")
    r.extra("sustained_ladder_eps") =
      Iterator.iterate(250.0)(_ * 2).takeWhile(_ <= cap).toSeq.lastOption.getOrElse(0.0)
    if (r.traced) {
      val trace = new Trace(r.spark)
      trace.install()
      val c0 = trace.snap()
      val t = measure("t", Some(trace))
      val c = trace.snap() - c0
      val prog = trace.streamProgress.filter(_.numInputRows > 0)
      trace.uninstall()
      def dur(k: String) = Stats.median(prog.map(p =>
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
      val batchMs = prog.map(_.durationMs.get("triggerExecution").doubleValue)
      val ops = prog.flatMap(_.stateOperators.toSeq)
      // window rows the aggregate emitted (update mode): the sink's input
      val incoming = ops.filter(_.operatorName == "stateStoreSave").map(_.numRowsUpdated).sum
      val written = t.storeRows.sum
      r.layers ++= Seq(
        "stream.batches" -> prog.length,
        "stream.batch_ms.p50" -> Stats.median(batchMs),
        "stream.batch_ms.p99" -> Stats.quantile(batchMs, 0.99),
        "stream.get_batch_ms" -> dur("getBatch"),
        "stream.add_batch_ms" -> dur("addBatch"),
        "stream.wal_commit_ms" -> dur("walCommit"),
        "stream.commit_offsets_ms" -> dur("commitOffsets"),
        "stream.state_rows" -> prog.last.stateOperators.map(_.numRowsTotal).sum,
        "stream.state_mem_bytes" -> ops.map(_.memoryUsedBytes).max,
        "stream.dedup_dropped_rows" -> ops.map(o =>
          Option(o.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L)).sum,
        "stream.rows_dropped_by_watermark" -> ops.map(_.numRowsDroppedByWatermark).sum,
        "stream.lag_s" -> Stats.median(t.lagS),
        "stream.generator_late_ms" -> t.genLateMs.max,
        "stream.jobs" -> c.jobs, "stream.shuffle_write_bytes" -> c.shuffleWrite,
        "sink.commit_ms.p50" -> Stats.median(t.commitMs),
        "sink.commit_ms.p99" -> Stats.quantile(t.commitMs, 0.99),
        "sink.rows_written" -> written,
        "sink.incoming_rows" -> incoming,
        "sink.write_amp" -> (if (incoming > 0) written.toDouble / incoming else 0.0),
        "trace.overhead_s" -> (t.busyS - u.busyS))
    }
  }
}

/** `ops_sf001`: a fixed list of registered queries over the sf0.01 corpus.
  * Each pass clears the memo registry, writes every query to the noop sink
  * in a fixed order, and runs an untimed GC between queries. The
  * gross pass time includes memo builds.
  */
object Ops {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")
}

final class Ops(r: Run) {
  private val list: Seq[(String, String)] = r.a("queries").split(",").toSeq.map { e =>
    val Array(q, o) = e.split(":"); q -> o
  }
  private val dir = r.inputs

  private final case class Q(name: String, obj: String, s: Double, jobs: Long, c: Counts,
      memo: Seq[(String, Double)], cachedBytes: Long)

  private def pass(trace: Option[Trace]): Seq[Q] = {
    val spark = r.spark
    Dedup.clearMemos()
    list.map { case (name, obj) =>
      val c0 = trace.map(_.snap())
      val m0 = Dedup.memoBuildCount
      val t0 = System.nanoTime()
      r.attempted += 1
      try SparkEntry.queries(name)(spark, dir).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable => r.fail(s"$name: $e") }
      val s = (System.nanoTime() - t0) / 1e9
      val memo = Dedup.memoBuildsSince(m0)
      val c = trace.map(t => t.snap() - c0.get).getOrElse(Counts(0, 0, 0, 0, 0, 0, 0, 0, 0))
      val cached = if (trace.isDefined)
        spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum else 0L
      System.gc()
      Q(name, obj, s, c.jobs, c, memo, cached)
    }
  }

  def go(): Unit = {
    val passes = mutable.ArrayBuffer.empty[Seq[Q]]
    r.clockStarts()
    val t0 = System.nanoTime()
    // whole passes only: another starts if the last one fits in the time left
    while (passes.isEmpty ||
      (System.nanoTime() - t0) / 1e9 + passes.last.map(_.s).sum <= r.seconds)
      passes += pass(None)
    r.mark("timed_done_s")
    val gross = passes.map(_.map(_.s).sum).toSeq
    // latency: one sample per query run; throughput: whole passes
    val perQuery = passes.flatten.map(_.s).toSeq
    r.e2e("throughput_per_s") = Stats.median(gross.map(list.length / _))
    r.e2e("latency_p50_ms") = Stats.median(perQuery) * 1000
    r.e2e("latency_p99_ms") = Stats.quantile(perQuery, 0.99) * 1000
    r.name("ops_sf001_s", Stats.median(gross), "s")
    r.extra("passes") = gross
    r.extra("query_s") = passes.last.map(q => q.name -> q.s).toMap
    r.extra("memo_builds") = passes.last.flatMap(q => q.memo.map(m => s"${q.name}/${m._1}" -> m._2)).toMap
    if (r.traced) {
      // the traced pass sits between two more untraced passes and is
      // compared with their mean, so JIT warm-up across passes cancels
      // (the cold timed pass is far slower than any later one)
      val trace = new Trace(r.spark)
      val before = pass(None).map(_.s).sum
      trace.install()
      val qs = pass(Some(trace))
      // min-label propagation, called directly on the q22 pair frame
      val pairs = Dedup.q22Cached(r.spark, dir).select(col("doc_a"), col("doc_b"))
      val p0 = trace.snap()
      val propS = r.time(Dedup.minLabelPropagation(pairs).write.format("noop").mode("overwrite").save())
      val prop = trace.snap() - p0
      trace.uninstall()
      val after = pass(None).map(_.s).sum
      val tot = qs.map(_.c).reduce(_ + _)
      r.layers ++= Seq(
        "ops.jobs" -> tot.jobs, "ops.stages" -> tot.stages, "ops.tasks" -> tot.tasks,
        "ops.exchanges" -> tot.exchanges, "ops.shuffle_read_bytes" -> tot.shuffleRead,
        "ops.shuffle_write_bytes" -> tot.shuffleWrite, "ops.spill_bytes" -> tot.spill,
        "ops.input_bytes" -> tot.input,
        "ops.query_s.p50" -> Stats.median(qs.map(_.s)),
        "ops.query_s.max" -> qs.map(_.s).max,
        "memo.builds" -> qs.map(_.memo.length).sum,
        "memo.build_s" -> qs.flatMap(_.memo.map(_._2)).sum,
        "memo.cached_bytes_peak" -> qs.map(_.cachedBytes).max,
        "prop.jobs" -> prop.jobs, "prop.s" -> propS,
        "trace.overhead_s" -> (qs.map(_.s).sum - (before + after) / 2))
      qs.groupBy(_.obj).toSeq.sortBy(_._1).foreach { case (o, xs) =>
        r.layers(s"ops.$o.s") = xs.map(_.s).sum
        r.layers(s"ops.$o.jobs") = xs.map(_.jobs).sum
      }
      r.extra("per_query") = qs.map(q => q.name -> Map("s" -> q.s, "jobs" -> q.jobs,
        "stages" -> q.c.stages, "exchanges" -> q.c.exchanges,
        "shuffle_write_bytes" -> q.c.shuffleWrite,
        "memo" -> q.memo.map(m => m._1 -> m._2).toMap)).toMap
    }
    // outputs for the oracle-hash check (run.py), outside the timed passes
    val out = s"${r.work}/ops_out"
    list.foreach { case (name, _) =>
      try SparkEntry.queries(name)(r.spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$name")
      catch { case e: Throwable => r.fail(s"$name (check output): $e") }
    }
    r.extra("ops_out") = out
  }
}
