package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val queries = SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY").toSeq.flatMap(_.split(",")))
    val spark = Sessions.local("graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen/shuffle-machinery warmup so the first measured query
    // doesn't absorb one-time session init.
    spark.range(1000000).selectExpr("sum(id) s").write.mode("overwrite").format("noop").save()
    // Parquet-scan + broadcast-join machinery warmup on the 5-row region
    // table: without it the alphabetically-FIRST query absorbs ~2s of
    // one-time datasource/class init (measured: q02 benched alone 4.1s vs
    // 2.4s mid-suite). Five rows keep page-cache warming negligible; the
    // init cost leaves the per-query numbers instead of landing on q01.
    try {
      val r = spark.read.parquet(s"$sfDir/region.parquet")
      r.join(org.apache.spark.sql.functions.broadcast(r.limit(1)), Seq("r_regionkey"))
        .write.mode("overwrite").format("noop").save()
    } catch { case _: Exception => () }
    // Machine-load evidence: 1-minute load average at start/end (and max
    // over per-query samples) is recorded in the metric JSON so a bench
    // contaminated by a concurrent CPU-heavy job (the r2/r7/r8 driver
    // anomaly signature) is self-identifying from the record alone.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def load1m: Double = osBean.getSystemLoadAverage
    val loadStart = load1m
    var loadMax = loadStart
    val startedAtMs = System.currentTimeMillis()
    var failed = List.empty[String]
    var memoBuilds = List.empty[(String, Seq[(String, Double)])]
    var loadPerQuery = List.empty[(String, Double)]
    val results = queries.map { case SparkEntry.Query(name, fn, _) =>
      val m0 = graft.queries.Dedup.memoBuildCount
      val t0 = System.nanoTime()
      // noop sink: full materialization of every output column (count()
      // would let Catalyst prune the projections away on map-only queries)
      try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[bench] $name failed: $e")
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // First-consumer memo tax, SUBTRACTED not just named: if this
      // query's timer covered the build of a shared memo surface, its
      // reported time is the steady-state net and the build appears as
      // its own gross line item under "memo_builds" — so the driver's
      // per-query record grades regressions without manual adjudication
      // (an alphabetically-first consumer no longer shows 6× its median).
      val built = graft.queries.Dedup.memoBuildsSince(m0)
      if (built.nonEmpty) memoBuilds ::= (name, built)
      val memoSec = built.map(_._2).sum
      // Per-query load sample (1-minute average at query end): lets one
      // read distinguish a contended query from a regressed one, instead
      // of inferring from the run-level [start,max,end] triple alone.
      val l = load1m
      loadPerQuery ::= (name, l)
      loadMax = math.max(loadMax, l)
      // UNTIMED inter-query GC (JMH-style): without it, the previous
      // query's garbage — and the RDD blocks of its dropped
      // localCheckpoints, which the ContextCleaner only frees after
      // their DataFrames are collected — is billed to whichever query
      // runs next, the dominant source of the ±15% cross-query jitter
      // seen on unchanged code (steal=0, ~6/32 cores busy: the suite is
      // latency-bound, so collector pauses land directly in wall time).
      System.gc()
      name -> math.max(elapsed - memoSec, 0.0)
    }
    // 3-decimal (millisecond) formatting, Locale.ROOT so the decimal
    // separator is always '.': full double precision pushed the 67-query
    // line past 2000 chars, and harnesses that keep only an output TAIL
    // of that size never saw the line's head (the total metric). At 3dp
    // the whole line is ~1.8k chars and survives tail truncation intact.
    def f3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    // total = sum of the already-rounded per-query NET values plus the
    // already-rounded memo line items, so a consumer recomputing the
    // total from the queries map + memo_builds map gets an exact match —
    // rounded with the SAME mode as %.3f (HALF_UP), not math.rint's
    // half-even, so the guarantee holds even on an exact .0005 tie. The
    // headline stays the gross wall spent in query timers: moving memo
    // out of per-query numbers must not masquerade as a total speedup.
    val memoTotal =
      memoBuilds.flatMap(_._2).map(b => f3(b._2).toDouble).sum
    val total = results.map(r => f3(r._2).toDouble).sum + memoTotal
    // failed queries are listed explicitly so a fast failure can never
    // masquerade as a fast run in the tracked metric
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val finishedAtMs = System.currentTimeMillis()
    val loadEnd = load1m
    def iso(ms: Long): String = java.time.Instant.ofEpochMilli(ms).toString
    // load1m: [start, max-sampled, end]. Start/end alone can miss a
    // contaminating job that ran only mid-suite; the per-query max can't.
    val evidence =
      s""""started":"${iso(startedAtMs)}","finished":"${iso(finishedAtMs)}"""" +
      s""","wall_sec":${f3((finishedAtMs - startedAtMs) / 1e3)}""" +
      s""","load1m":[${f3(loadStart)},${f3(loadMax)},${f3(loadEnd)}]"""
    // memo_builds: {consumer_query: {memo_name: build_sec}} — gross line
    // items; the consumer's own "queries" entry is net of these.
    val memoJson = memoBuilds.sortBy(_._1).map { case (q, builds) =>
      "\"" + q + "\":" + builds
        .map { case (n, sec) => "\"" + n + "\":" + f3(sec) }
        .mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    def f2(v: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val loadQJson = loadPerQuery.sortBy(_._1)
      .map { case (q, l) => "\"" + q + "\":" + f2(l) }.mkString("{", ",", "}")
    val line = s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir",$evidence,"memo_sec":${f3(memoTotal)},"memo_builds":$memoJson,"load1m_q":$loadQJson}"""
    println(line)
    // Compact second line, printed AFTER the full one: the r8 driver's
    // output-tail window cut the 100-query line's HEAD off — where
    // "metric":"total" lives — and recorded `parsed: null`. This line is
    // ~200 bytes, so ANY tail window that keeps even one full line keeps
    // a parseable total; a consumer reading top-down still meets the full
    // line (identical total) first.
    val compact = s"""{"metric":"total","value":${f3(total)},"unit":"sec","failed":$failedJson,"sf":"$sfDir",$evidence}"""
    println(compact)
    // Belt and braces vs log-prefixing/truncating harnesses: also persist
    // the metric line to a file no logger can touch.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_records/latest_bench.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p, (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: $e")
    }
    spark.stop()
  }
}
