package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Scale-engineering proofs that don't fit the oracle harness: bucketed
  * co-located joins (shuffle elimination) and checkpointed
  * drain-exactly-once semantics for the pipeline sink adapters.
  */
class ScaleSpec extends SparkTestBase {

  test("resplit: re-splits a single-split scan, no-op on already-parallel input") {
    import org.apache.spark.sql.functions.col
    // the fixture parquet is one row group → one scan task → resplit must
    // fan the narrow projection out to the session's parallelism
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val p = spark.sparkContext.defaultParallelism
    assert(docs.rdd.getNumPartitions < p, "fixture precondition: single-split scan")
    assert(Tables.resplit(docs).rdd.getNumPartitions === p)
    // an input that already has >= parallelism partitions passes through
    // UNCHANGED (same DataFrame instance — the scale-safety claim: on a
    // real multi-split corpus resplit adds no shuffle at all)
    val wide = docs.repartition(p * 2)
    assert(Tables.resplit(wide) eq wide)
  }

  test("resplit: a file path containing 'Exchange' does not disable the re-split") {
    // the guard matches exchange NODE renderings, not a bare substring — a
    // scan whose path happens to contain "Exchange" must stay eligible
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_Exchange2024").toString
    Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/docs.parquet")
    val scan = spark.read.parquet(s"$dir/docs.parquet")
    val p = spark.sparkContext.defaultParallelism
    assert(scan.rdd.getNumPartitions < p, "precondition: single-split scan")
    assert(Tables.resplit(scan).rdd.getNumPartitions === p,
      "substring false-positive on the scan path disabled the re-split")
  }

  test("resplit: exchange-bearing input passes through without running any job") {
    // The partition probe goes through df.rdd, which under AQE would
    // MATERIALIZE the plan's exchanges — executing the join below once for
    // the probe and again for the real action. The guard must return the
    // frame untouched without triggering a single Spark job.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val joined = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      .join(Tables.orders(spark, sf).select("o_orderkey", "o_totalprice"),
        col("l_orderkey") === col("o_orderkey"))
    val agg = Tables.lineitem(spark, sf).groupBy("l_orderkey").count()
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(Tables.resplit(joined) eq joined)
      assert(Tables.resplit(agg) eq agg)
      // the probe's job submission is synchronous; the wait is only for
      // listener-bus event delivery
      Thread.sleep(1500)
      assert(jobs.get() === 0,
        s"resplit on an exchange-bearing plan ran ${jobs.get()} eager job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
    // fanOut checkpoints first, so its join is scan-shaped again: the
    // probe applies and guarantees ≥ defaultParallelism splits for the
    // CPU-bound consumer (the near-dup verify pattern)
    val fanned = Tables.fanOut(joined)
    val fp = fanned.queryExecution.executedPlan.toString
    assert(fp.contains("Scan ExistingRDD") && !fp.contains("Join"),
      s"fanOut did not read a checkpoint scan:\n$fp")
    assert(fanned.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism)
  }

  test("bucketed tables co-locate the join: no Exchange in the plan") {
    val warehouse = Files.createTempDirectory("graft_buckets").toString
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val ord = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
    li.write.mode("overwrite").option("path", s"$warehouse/li")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_b")
    ord.write.mode("overwrite").option("path", s"$warehouse/ord")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("ord_b")
    val oldThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable broadcast so the planner must choose between shuffling and
      // the bucket layout — at real scale both sides are too big to
      // broadcast, which is the scenario bucketing exists for
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_b")
        .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle; plan was:\n$plan")
      // and it still computes the right thing
      assert(joined.count() === li.join(ord, col("l_orderkey") === col("o_orderkey")).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThreshold)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("hive-partitioned layout prunes partitions at plan time") {
    val dir = Files.createTempDirectory("graft_part").toString
    Tables.documents(spark, sf)
      .write.mode("overwrite").partitionBy("lang").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("lang") === "en")
    val plan = q.queryExecution.executedPlan.toString
    // the lang predicate must become a partition filter on the scan, not
    // a data filter evaluated after reading every partition
    assert(plan.contains("PartitionFilters") && plan.contains("isnotnull(lang"),
      s"lang filter did not reach PartitionFilters:\n$plan")
    // and only the en partition's files are read
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount }
    assert(scanned.contains(1), s"expected exactly 1 partition scanned, got $scanned")
    assert(q.count() === Tables.documents(spark, sf).filter(col("lang") === "en").count())
  }

  test("runtime bloom filter prunes the probe side of a selective join") {
    // At 100 TB the fact-side scan dominates; Spark's runtime row-level
    // filtering injects a bloom filter built from the selective dim side
    // into the fact scan. Local thresholds are sized for petabyte plans,
    // so lower them to prove the rewrite fires on the test corpus.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val joined = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf).filter(col("o_orderstatus") === "P"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(sum(col("l_quantity")).as("q"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("bloom_filter") || plan.contains("BloomFilter"),
        s"no runtime bloom filter injected into the probe side:\n$plan")
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("salted two-phase aggregation equals the direct aggregate on skewed keys") {
    import spark.implicits._
    // 90% of rows share one hot key — the shape that melts a single
    // reducer at scale and that salting exists to spread
    val rows = (1 to 20000).map(i =>
      (if (i % 10 == 0) s"key${i % 50}" else "HOT", BigDecimal(i % 997, 2)))
    val df = rows.toDF("k", "v").select(col("k"), col("v").cast("decimal(18,2)").as("v"))
    val direct = df.groupBy("k").agg(sum("v").as("total"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getDecimal(1)))
    val salted = df
      .withColumn("salt", pmod(xxhash64(monotonically_increasing_id()), lit(16)))
      .groupBy(col("k"), col("salt")).agg(sum("v").as("partial"))
      .groupBy(col("k")).agg(sum("partial").as("total"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getDecimal(1)))
    assert(salted.toSeq === direct.toSeq)
  }

  test("AQE splits skewed join partitions at runtime") {
    import spark.implicits._
    // production defaults detect skew at 256MB partitions; scale the
    // thresholds to the test corpus so the same machinery fires here
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32768",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // one hot key owns ~95% of the left side — the shape that melts a
      // single reducer without runtime splitting
      val left = spark.range(0, 100000).select(
        when(col("id") % 20 =!= 0, 0L).otherwise(col("id")).as("k"),
        concat(lit("pad" * 20), col("id")).as("pad"))
      val right = spark.range(0, 2000).select(col("id").as("rk"))
      val j = left.join(right, col("k") === col("rk"))
      // execute through THIS Dataset's QueryExecution (a write would plan
      // a fresh one, leaving this plan un-finalized by AQE)
      val qe = j.queryExecution
      qe.toRdd.count()
      val plan = qe.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$plan")
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("AvailableNow + checkpoint drains each record exactly once across restarts") {
    val topicDir = Files.createTempDirectory("graft_eo_topic").toString
    val checkpoint = Files.createTempDirectory("graft_eo_ckpt").toString
    val sinkDir = Files.createTempDirectory("graft_eo_sink").toString
    val customers = graft.pipeline.CustomerPipeline.generate(spark, 100, partitions = 4)
    graft.pipeline.CustomerPipeline.toKafkaFrame(customers)
      .write.mode("overwrite").parquet(topicDir)

    def drainOnce(): Unit = {
      val stream = spark.readStream
        .schema(spark.read.parquet(topicDir).schema)
        .parquet(topicDir)
      val q = graft.pipeline.KafkaIO.drainTo(stream, checkpoint) { (batch, _) =>
        graft.pipeline.CustomerPipeline.fromKafkaFrame(batch)
          .write.mode("append").parquet(sinkDir)
      }.start()
      q.awaitTermination(120000)
      assert(!q.isActive)
    }

    drainOnce()
    assert(spark.read.parquet(sinkDir).count() === 100L)
    // "restart the daily job": same checkpoint, no new input → no replays
    drainOnce()
    assert(spark.read.parquet(sinkDir).count() === 100L,
      "checkpointed drain must not reprocess the backlog")
    // new data arrives → only the delta is processed
    graft.pipeline.CustomerPipeline.toKafkaFrame(
        graft.pipeline.CustomerPipeline.generate(spark, 150, partitions = 4)
          .filter(col("id") > 100))
      .write.mode("append").parquet(topicDir)
    drainOnce()
    val ids = spark.read.parquet(sinkDir).select("id").collect().map(_.getInt(0)).sorted
    assert(ids.length === 150 && ids.distinct.length === 150,
      s"expected ids 1..150 exactly once, got ${ids.length} rows")
  }
}
