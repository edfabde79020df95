package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.parquet.hadoop.ParquetOutputCommitter

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks

import graft.pipeline.CustomerPipeline
import graft.pipeline.CustomerPipeline._
import graft.pipeline.EventsIngestJob.upsertWindows

/** Reference-parity semantics of the customer pipeline: JSON wire
  * round-trip, decimal laundering, single-array export, seeded generator
  * determinism, and a file-standin end-to-end hop (the sandbox has no
  * broker; the Kafka frame shape is what the connector would consume).
  */
class PipelineSpec extends SparkTestBase with TableDrivenPropertyChecks {

  private lazy val customers = CustomerPipeline.generate(spark, 300, partitions = 4).cache()

  test("consume's batch write is idempotent under foreachBatch replay") {
    // foreachBatch is at-least-once: after a crash between the sink write
    // and the checkpoint commit, the SAME batch id is re-delivered. The
    // EtlJob sink (overwrite keyed by batch id) must absorb the replay
    // without duplicating rows — this pins that contract.
    val sink = Files.createTempDirectory("graft_idem").toString
    val batch = toKafkaFrame(customers)
    def deliver(): Unit = fromKafkaFrame(batch)
      .write.mode("overwrite").parquet(s"$sink/batch=0")
    deliver(); deliver() // replay
    assert(spark.read.parquet(sink).count() === 300)
  }

  test("generator is deterministic, sized, and schema-exact") {
    val a = customers.collect()
    val b = CustomerPipeline.generate(spark, 300, partitions = 7).orderBy("id").collect()
    assert(a.length === 300)
    // names and types must match the declared schema (nullability may be
    // tighter on generated columns, which is fine)
    assert(customers.schema.map(f => (f.name, f.dataType)) ===
      CustomerSchema.map(f => (f.name, f.dataType)))
    // same values regardless of partitioning
    assert(a.sortBy(_.getInt(0)).toSeq === b.toSeq)
  }

  test("from_json . to_json is the identity on the customer schema") {
    val back = roundTrip(customers).orderBy("id").collect()
    assert(back.toSeq === customers.orderBy("id").collect().toSeq)
  }

  test("kafka frame has the reference wire shape: null key, JSON object value") {
    val wire = toKafkaFrame(customers)
    assert(wire.columns.toSeq === Seq("key", "value"))
    val r = wire.select(col("key"), col("value").cast("string").as("v")).head()
    assert(r.isNullAt(0), "reference producer sends unkeyed messages")
    val v = r.getAs[String]("v")
    assert(v.startsWith("{") && v.endsWith("}"))
    Seq("id", "nombre", "apellido", "direccion", "telefono",
      "caja_ahorro_pesos", "caja_ahorro_dolares").foreach(f =>
      assert(v.contains("\"" + f + "\""), s"missing field $f in $v"))
  }

  test("decimal laundering: wire doubles re-round HALF_UP into DECIMAL(10,2)") {
    import spark.implicits._
    // raw doubles with >2dp, as a sloppy producer could emit
    val raw = Seq(1.005, 2.675, 123.4567, -9.999, 0.001)
    val wire = raw.zipWithIndex
      .map { case (d, i) => (i, "n", "a", "d", "t", d, d) }
      .toDF("id", "nombre", "apellido", "direccion", "telefono",
        "caja_ahorro_pesos", "caja_ahorro_dolares")
      .select(lit(null).cast("binary").as("key"),
        to_json(struct(col("id"), col("nombre"), col("apellido"), col("direccion"),
          col("telefono"), col("caja_ahorro_pesos"), col("caja_ahorro_dolares")))
          .cast("binary").as("value"))
    val out = fromKafkaFrame(wire).orderBy("id").collect()
    raw.zip(out).foreach { case (d, row) =>
      val got = row.getDecimal(5)
      // Spark's double→decimal cast goes through the double's shortest
      // decimal string (BigDecimal.valueOf), THEN rounds HALF_UP — i.e.
      // 1.005 → "1.005" → 1.01, not binary-value rounding (→ 1.00).
      val want = JBigDecimal.valueOf(d).setScale(2, RoundingMode.HALF_UP)
      assert(got.compareTo(want) === 0, s"$d -> $got, want $want")
    }
  }

  test("exportJsonArray emits ONE JSON array object (reference K3 semantics)") {
    val rows = exportJsonArray(customers).collect()
    assert(rows.length === 1, "single object, like the reference's one put_object")
    val s = rows(0).getAs[String]("json_array")
    assert(s.startsWith("[{") && s.endsWith("}]"))
    // element count == row count (top-level objects in the array)
    assert(s.sliding(2).count(_ == "},") + 1 === 300)
    // and the array is in id order regardless of partitioning
    val ids = """"id":(\d+)""".r.findAllMatchIn(s).map(_.group(1).toInt).toSeq
    assert(ids === ids.sorted, "export array must be ordered by id")
  }

  test("file-standin end-to-end hop preserves every row (E1->E2 with parquet as the topic)") {
    val dir = Files.createTempDirectory("graft_topic").toString
    toKafkaFrame(customers).write.mode("overwrite").parquet(dir)
    val consumed = fromKafkaFrame(spark.read.parquet(dir)).orderBy("id").collect()
    assert(consumed.toSeq === customers.orderBy("id").collect().toSeq)
  }

  test("balances stay in the generator's declared domains") {
    val Row(minP: JBigDecimal, maxP: JBigDecimal, minD: JBigDecimal, maxD: JBigDecimal) =
      customers.agg(
        min("caja_ahorro_pesos"), max("caja_ahorro_pesos"),
        min("caja_ahorro_dolares"), max("caja_ahorro_dolares")).head()
    assert(minP.signum() >= 0 && maxP.doubleValue() < 100000)
    assert(minD.signum() >= 0 && maxD.doubleValue() < 10000)
  }

  test("EventsIngestJob: two-tick drain with redelivery conserves events exactly") {
    // the runnable events entry end-to-end: staged time-sliced arrivals,
    // dedup-within-watermark, windowed aggregate, foreachBatch upsert,
    // two AvailableNow drains off one checkpoint — the composed job must
    // aggregate every source event exactly once despite the redelivered
    // overlap (run() returns the conservation verdict), and the store's
    // per-window totals must equal the batch recompute. sf0.001 has no
    // window with events on both sides of the tick cut, so tick 2 there
    // only adds windows; sf0.01 has such windows, so tick 2 replaces
    // stored ones and the upsert's replace path is checked too
    forAll(Table("corpus", sf, sf.replace("sf0.001", "sf0.01"))) { dir =>
      val work = Files.createTempDirectory("graft_ev_job").toString
      assert(graft.pipeline.EventsIngestJob.run(spark, dir, work),
        s"$dir: conservation invariant failed — see [events-ingest] log lines")
      val cols = Seq("w_start", "event_type", "n_events", "sum_value").map(col)
      val store = spark.read.parquet(s"$work/agg").select(cols: _*)
      val batch = graft.streaming.EventStreams.tumbling(
        Tables.events(spark, dir).select(
          col("ts"), col("user_id"), col("event_type"), col("value")), "1 hour")
        .select(cols: _*)
      // all four columns, both directions: a wrong total and a missing
      // window each fail
      assert(store.exceptAll(batch).isEmpty, s"$dir: store holds rows the batch recompute lacks")
      assert(batch.exceptAll(store).isEmpty, s"$dir: store lacks rows of the batch recompute")
    }
  }

  private def windows(rows: (Int, String, Long, Double)*) = {
    import spark.implicits._
    rows.map { case (h, t, n, v) => (new java.sql.Timestamp(h * 3600000L), t, n, v) }
      .toDF("w_start", "event_type", "n_events", "sum_value")
  }
  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[Row] =
    df.orderBy("w_start", "event_type").collect().toSeq
  private def storeRows(dir: String): Seq[Row] = sorted(spark.read.parquet(dir))
  private lazy val stored = windows((0, "a", 1L, 1.5), (1, "b", 2L, 2.5))
  private lazy val arriving = windows((1, "b", 5L, 7.25), (2, "c", 3L, 3.0))
  private lazy val merged = windows((0, "a", 1L, 1.5), (1, "b", 5L, 7.25), (2, "c", 3L, 3.0))

  test("upsertWindows: a store write that dies at job commit leaves the store whole; replay converges") {
    val dir = Files.createTempDirectory("graft_upsert_crash").toString + "/agg"
    upsertWindows(spark, stored, dir)
    val key = "spark.sql.parquet.output.committer.class"
    spark.conf.set(key, classOf[CommitFailingCommitter].getName)
    try intercept[Exception](upsertWindows(spark, arriving, dir))
    finally spark.conf.unset(key)
    assert(storeRows(dir) === sorted(stored), "the failed write changed the store")
    upsertWindows(spark, arriving, dir) // replay
    assert(storeRows(dir) === sorted(merged))
    upsertWindows(spark, arriving, dir) // replay again
    assert(storeRows(dir) === sorted(merged), "a second replay changed the store")
  }

  test("upsertWindows resolves a leftover .prev: restored with no store, deleted beside one") {
    val root = Files.createTempDirectory("graft_upsert_prev").toString
    val (dir, prev) = (s"$root/agg", Paths.get(s"$root/agg.prev"))
    // a crash between the two renames: the old store sits at .prev alone
    upsertWindows(spark, stored, dir)
    Files.move(Paths.get(dir), prev)
    upsertWindows(spark, arriving, dir)
    assert(storeRows(dir) === sorted(merged), ".prev was not restored before the merge")
    assert(!Files.exists(prev) && !Files.exists(Paths.get(s"$dir.next")))
    // a crash after the second rename: a stale .prev beside the store
    stored.write.parquet(prev.toString)
    upsertWindows(spark, arriving.limit(0), dir)
    assert(storeRows(dir) === sorted(merged), "a stale .prev replaced the store")
    assert(!Files.exists(prev), "stale .prev was kept")
  }
}

/** A parquet committer whose job commit always fails: the write has run
  * every task, and dies where a crashed driver would. */
class CommitFailingCommitter(out: Path, ctx: TaskAttemptContext)
    extends ParquetOutputCommitter(out, ctx) {
  override def commitJob(job: JobContext): Unit =
    throw new java.io.IOException("injected job-commit failure")
}
