package graft

import org.apache.spark.sql.functions._

import graft.queries.{Analytics, CorpusStats, Dedup}
import graft.queries.CorpusStats._

/** Invariants of the corpus-composition and event-analytics operators
  * (q74–q80) beyond the DuckDB oracle: probability-mass conservation,
  * temperature-flattening direction, cluster-count conservation against
  * the q45 labels, weighted-sample size/bias, funnel monotonicity,
  * retention-triangle anchoring, and the symmetric-difference bound on
  * source Jaccard.
  */
class CorpusStatsSpec extends SparkTestBase {

  test("q74: both mixture distributions sum to 1 and temperature flattens toward uniform") {
    val rows = CorpusStats.q74TempMixture(spark, sf).collect()
    def mass(c: String) = rows.map(_.getAs[Double](c)).sum
    assert(math.abs(mass("nat_frac") - 1.0) < 1e-4, "natural shares must sum to 1")
    assert(math.abs(mass("temp_frac") - 1.0) < 1e-4, "tempered shares must sum to 1")
    // α < 1 ⇒ rare languages gain mass (upsample > 1), dominant ones lose it
    val byN = rows.sortBy(_.getAs[Long]("n_docs"))
    assert(byN.head.getAs[Double]("upsample") > 1.0, "rarest language must upsample")
    assert(byN.last.getAs[Double]("upsample") < 1.0, "dominant language must downsample")
    // monotone: tempered share ordering preserves natural ordering
    val temps = byN.map(_.getAs[Double]("temp_frac"))
    assert(temps.zip(temps.tail).forall { case (a, b) => a <= b + 1e-12 },
      "temperature must preserve the size ordering")
  }

  test("q75: size distribution conserves the q45 component counts") {
    val labels = Dedup.componentLabels(spark, sf)
    val out = CorpusStats.q75ClusterSizes(spark, sf).collect()
    val nDocs = out.map(_.getAs[Long]("n_docs")).sum
    val nClusters = out.map(_.getAs[Long]("n_clusters")).sum
    assert(nDocs == labels.count(), "docs across size buckets must equal labeled nodes")
    assert(nClusters == labels.select(col("comp")).distinct().count(),
      "clusters across size buckets must equal distinct components")
    assert(out.forall(_.getAs[Long]("cluster_size") >= 2),
      "near-dup graph nodes all have a partner: no size-1 cluster can exist")
  }

  test("q76: fences are consistent with quartiles and outlier counts are conservative") {
    val rows = CorpusStats.q76OutlierFences(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (p25, p75) = (r.getAs[Double]("p25"), r.getAs[Double]("p75"))
      assert(p25 <= p75, s"quartiles inverted for ${r.getAs[String]("lang")}")
      assert(math.abs(r.getAs[Double]("iqr") - (p75 - p25)) < 1e-6)
      assert(r.getAs[Double]("lo_fence") <= p25 && p75 <= r.getAs[Double]("hi_fence"))
      // at most 25% of mass can sit below Q1 (resp. above Q3), so Tukey
      // outliers are strictly fewer than half the group
      assert(r.getAs[Long]("n_outliers") * 2 < r.getAs[Long]("n_docs"),
        "outliers must be a minority under quartile fences")
    }
  }

  test("q79: exactly K winners, and the race is length-biased toward long documents") {
    val out = CorpusStats.q79WeightedSample(spark, sf)
    assert(out.count() == WsK)
    // E-S sampling with weight = n_chars must overselect long docs: the
    // sample's mean length exceeds the corpus mean (the bias is the point)
    val sampleMean = out.agg(avg(col("n_chars"))).head().getDouble(0)
    val corpusMean = Tables.documents(spark, sf).agg(avg(col("n_chars"))).head().getDouble(0)
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean not above corpus mean $corpusMean")
    // deterministic: a second run yields the identical winner set
    val ids1 = out.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val ids2 = CorpusStats.q79WeightedSample(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2, "weighted sample must be reproducible")
  }

  test("q80: jaccard within (0,1], intersection bounded by both vocabularies") {
    val rows = CorpusStats.q80SourceJaccard(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (na, nb, inter) =
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"), r.getAs[Long]("inter"))
      assert(inter >= 1 && inter <= math.min(na, nb),
        "intersection must be within both vocabulary sizes")
      val j = r.getAs[Double]("jaccard")
      assert(j > 0.0 && j <= 1.0)
      assert(r.getAs[String]("src_a") < r.getAs[String]("src_b"),
        "pairs must be canonical (src_a < src_b), never duplicated")
    }
    // no pair may appear twice in either orientation
    val keys = rows.map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")))
    assert(keys.distinct.length == keys.length)
  }

  test("q77: funnel counts are monotone non-increasing and rates consistent") {
    val rows = Analytics.q77EventFunnel(spark, sf).collect().sortBy(_.getAs[Int]("step"))
    assert(rows.map(_.getAs[String]("event_type")).toSeq == FunnelStepsCheck)
    val ns = rows.map(_.getAs[Long]("n_users"))
    assert(ns.zip(ns.tail).forall { case (a, b) => b <= a },
      "each funnel step can only lose users")
    val r2 = rows(1)
    assert(math.abs(r2.getAs[Double]("conv_from_prev") -
      ns(1).toDouble / ns(0)) < 1e-5)
  }

  private val FunnelStepsCheck = Analytics.FunnelSteps

  test("q81: deciles balance bucket depths and conserve the row count") {
    val rows = graft.queries.Profiling.q81EquiDepthHistogram(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("bucket")).toSeq == (0L to 9L),
      "all 10 decile buckets must be present, in order")
    val total = Tables.orders(spark, sf).count()
    val ns = rows.map(_.getAs[Long]("n"))
    assert(ns.sum == total, "bucket depths must conserve the table count")
    // equi-depth: every bucket within ±2% of total/10 (exact up to ties)
    assert(ns.forall(n => math.abs(n - total / 10.0) <= total * 0.02 + 1),
      s"buckets not depth-balanced: ${ns.mkString(",")}")
    // bucket ranges must be disjoint and ordered
    val his = rows.map(_.getAs[Double]("hi"))
    val los = rows.map(_.getAs[Double]("lo"))
    assert(los.zip(his).forall { case (l, h) => l <= h })
    assert(his.init.zip(los.tail).forall { case (h, l) => h <= l },
      "adjacent buckets overlap")
  }

  test("q82: every keeper is a cluster member with the cluster's max quality") {
    val out = graft.queries.Curation.q82KeeperSelection(spark, sf).cache()
    val labels = Dedup.componentLabels(spark, sf)
    // keeper ∈ its own cluster
    val bad = out.join(labels,
      out("keeper") === labels("doc") && out("comp") === labels("comp"), "left_anti")
    assert(bad.isEmpty, "a keeper was selected from outside its cluster")
    // sizes agree with the q75 distribution's source labels
    assert(out.agg(sum(col("cluster_size"))).head().getLong(0) == labels.count())
    // quality ordering holds, and a keeper beats (or ties) every member
    assert(out.filter(col("max_quality") < col("min_quality")).isEmpty)
    out.unpersist()
  }

  test("q78: offset-0 retention is exactly 1 for every cohort") {
    val rows = Analytics.q78RetentionCohort(spark, sf).collect()
    assert(rows.nonEmpty)
    val anchor = rows.filter(_.getAs[Long]("week_offset") == 0L)
    val cohorts = rows.map(_.getAs[java.sql.Timestamp]("cohort_week")).distinct
    assert(anchor.length == cohorts.length, "every cohort must have an offset-0 cell")
    anchor.foreach { r =>
      assert(r.getAs[Double]("retention") == 1.0,
        "a user is active in their own first week by definition")
    }
    assert(rows.forall(r => r.getAs[Double]("retention") > 0.0
      && r.getAs[Double]("retention") <= 1.0))
    assert(rows.forall(_.getAs[Long]("week_offset") >= 0L),
      "activity cannot precede the cohort week")
  }

  test("q84: token-weighted mean surprisal equals the corpus unigram entropy") {
    val out = CorpusStats.q84UnigramSurprisal(spark, sf).cache()
    assert(out.filter(col("n_types") > col("n_tokens")).isEmpty)
    assert(out.filter(col("nll_per_token") <= 0.0).isEmpty,
      "no word owns the whole corpus, so every surprisal is positive")
    // Σ_docs n_tokens·nll == Σ_w c(w)·(−ln c(w)/N) — the corpus entropy,
    // recomputed here independently from the raw token stream
    val tok = Tables.documents(spark, sf)
      .select(explode(graft.functions.TextFns.words(col("text"))).as("w"))
    val n = tok.count().toDouble
    val ent = tok.groupBy(col("w")).count()
      .select(sum(-col("count").cast("double")
        * (log(col("count").cast("double")) - math.log(n))))
      .collect()(0).getDouble(0)
    val weighted = out
      .select(sum(col("n_tokens").cast("double") * col("nll_per_token")))
      .collect()(0).getDouble(0)
    assert(math.abs(weighted - ent) / ent < 1e-4,
      s"weighted nll $weighted must equal corpus entropy sum $ent")
    out.unpersist()
  }

  test("q86: marginals bound the pair count and reported PMI matches the counts") {
    val rows = CorpusStats.q86PmiCollocations(spark, sf).collect()
    assert(rows.length === PmiTopK)
    rows.foreach { r =>
      val (c2, c1a, c1b) = (r.getAs[Long]("c2"), r.getAs[Long]("c1a"), r.getAs[Long]("c1b"))
      assert(c2 >= PmiMinCount, "min-count guard must hold")
      assert(c1a >= c2 && c1b >= c2, "a bigram can't outnumber its own words")
    }
    // recompute the two normalizers from the raw corpus and check the
    // formula against every reported row
    val ws = Tables.documents(spark, sf)
      .select(graft.functions.TextFns.words(col("text")).as("ww"))
    val nTok = ws.select(explode(col("ww")).as("w")).count().toDouble
    val nBi = ws.select((sum(greatest(size(col("ww")) - 1, lit(0)))).as("b"))
      .collect()(0).getLong(0).toDouble
    rows.foreach { r =>
      val expect = math.log(r.getAs[Long]("c2") / nBi) -
        math.log(r.getAs[Long]("c1a") / nTok) - math.log(r.getAs[Long]("c1b") / nTok)
      assert(math.abs(r.getAs[Double]("pmi") - expect) < 1e-3,
        s"pmi ${r.getAs[Double]("pmi")} vs recomputed $expect for $r")
    }
    // ranking is descending with the (w1, w2) tiebreak
    val keys = rows.map(r => (-r.getAs[Double]("pmi"),
      r.getAs[String]("w1"), r.getAs[String]("w2"))).toSeq
    assert(keys === keys.sorted, "output must be ordered by pmi desc, w1, w2")
  }

  test("q87: novelty attribution partitions the union vocabulary") {
    val rows = CorpusStats.q87SourceNovelty(spark, sf).collect()
    assert(rows.forall(r => r.getAs[Long]("n_novel") <= r.getAs[Long]("n_grams")))
    // the lexicographically first source is processed first: everything
    // it contributes is novel by definition
    val first = rows.minBy(_.getAs[String]("source"))
    assert(first.getAs[Long]("n_novel") === first.getAs[Long]("n_grams"))
    // each gram is attributed to exactly one source ⇒ novel counts
    // partition the union vocabulary
    val union = Tables.documents(spark, sf)
      .select(explode(graft.functions.TextFns.shingles(
        graft.functions.TextFns.words(col("text")), SrcN)).as("g"))
      .distinct().count()
    assert(rows.map(_.getAs[Long]("n_novel")).sum === union)
  }

  test("q89: transition probabilities are conditional distributions and edges conserve") {
    val rows = Analytics.q89EventTransitions(spark, sf).collect()
    rows.groupBy(_.getAs[String]("prev_type")).foreach { case (p, g) =>
      val mass = g.map(_.getAs[Double]("prob")).sum
      assert(math.abs(mass - 1.0) < 1e-4, s"P(·|$p) must sum to 1, got $mass")
    }
    // every user with k events contributes exactly k−1 transitions
    val ev = Tables.events(spark, sf)
    val expected = ev.count() - ev.select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n")).sum === expected)
  }

  test("q90: flags agree with the z fence and windows recompute from the daily counts") {
    val rows = Analytics.q90VolumeAnomaly(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("anomaly") ===
        (math.abs(r.getAs[Double]("z")) > Analytics.AnomalyZ))
      assert(r.getAs[Double]("sd7") > 0.0)
    }
    // recompute one scored day's trailing stats from the raw daily counts
    val probe = rows.maxBy(r => math.abs(r.getAs[Double]("z")))
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
      .filter(col("event_type") === probe.getAs[String]("event_type")
        && col("day") < probe.getAs[java.sql.Timestamp]("day"))
      .orderBy(col("day").desc).limit(Analytics.AnomalyWindow)
      .collect().map(_.getAs[Long]("n").toDouble)
    assert(daily.length === Analytics.AnomalyWindow)
    val mu = daily.sum / daily.length
    assert(math.abs(mu - probe.getAs[Double]("mu7")) < 1e-3,
      s"trailing mean ${probe.getAs[Double]("mu7")} must recompute to $mu")
  }

  test("q91: ranks are a permutation and the Lorenz curve is monotone to 1") {
    val rows = CorpusStats.q91SourceConcentration(spark, sf).collect()
    val k = rows.length
    assert(rows.map(_.getAs[Long]("rnk")).sorted.toSeq === (1L to k).toSeq)
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-4)
    val byRank = rows.sortBy(_.getAs[Long]("rnk"))
    val cums = byRank.map(_.getAs[Double]("cum_share"))
    assert(cums.zip(cums.tail).forall { case (a, b) => a <= b }, "Lorenz must be monotone")
    assert(math.abs(cums.last - 1.0) < 1e-6, "full cumulative share must be 1")
    // cum_share at rank i is the sum of the i smallest shares (rounding slack)
    val shares = byRank.map(_.getAs[Double]("share"))
    cums.zipWithIndex.foreach { case (c, i) =>
      assert(math.abs(c - shares.take(i + 1).sum) < 1e-4)
    }
  }

  test("q95: the histogram conserves q27's sessions and the event count") {
    val rows = Analytics.q95SessionDurations(spark, sf).collect()
    assert(rows.forall(_.getAs[Long]("bucket") >= 0L))
    val nSessions = rows.map(_.getAs[Long]("n_sessions")).sum
    assert(nSessions === graft.queries.Streaming.q27SessionWindow(spark, sf).count(),
      "histogram must count exactly q27's sessions")
    assert(rows.map(_.getAs[Long]("n_events")).sum === Tables.events(spark, sf).count(),
      "every event belongs to exactly one session")
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-4)
  }

  test("q96: every purchase is attributed exactly once and gaps are causal") {
    val rows = Analytics.q96LastTouchAttribution(spark, sf).collect()
    val nPurchases = Tables.events(spark, sf)
      .filter(col("event_type") === Analytics.FunnelSteps(2)).count()
    assert(rows.map(_.getAs[Long]("n_purchases")).sum === nPurchases)
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-4)
    rows.foreach { r =>
      val attr = r.getAs[String]("attribution")
      assert(attr !== Analytics.FunnelSteps(2), "a purchase can never attribute to itself")
      if (attr == "none") assert(r.isNullAt(r.fieldIndex("avg_gap_min")),
        "no prior touch means no gap to average")
      else assert(r.getAs[Double]("avg_gap_min") >= 0.0,
        // >= not >: a touch sharing the purchase's timestamp (tie broken
        // by event_id) gives gap 0 — causal, not fixture-impossible
        "the attributed touch cannot follow the purchase")
    }
  }

  test("q107: hand-computed merges — greedy non-overlap, tie-break, and rule chaining") {
    // corpus: "a a a a" (3 (a,a) pairs), "a a a" (2), "b c b c b"
    // round 1: (a,a)=5 wins; greedy rewrite → "a␁a a␁a" / "a␁a a" (NOT
    //          "a␁a a␁a a" from overlapping matches; ␁ = chr(1), the
    //          sentinel the whitespace tokenizer can never emit, so a
    //          literal corpus token "a_a" never collides with a merge)
    // round 2: (b,c)=2 wins the (b,c)/(c,b) tie lexicographically
    // round 3: all pairs count 1; (a␁a, a) is the (left, right) minimum
    val J = "\u0001"
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe").toString
    import spark.implicits._
    Seq((1L, "a a a a", "en", "web", 7L), (2L, "a a a", "en", "web", 5L),
      (3L, "b c b c b", "en", "web", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CorpusStats.q107BpeMerges(spark, dir)
      .collect().map(r => (r.getAs[Long]("round"), r.getAs[String]("left_sym"),
        r.getAs[String]("right_sym"), r.getAs[String]("merged"),
        r.getAs[Long]("pair_count"))).toSeq
    assert(got === Seq(
      (1L, "a", "a", s"a${J}a", 5L),
      (2L, "b", "c", s"b${J}c", 2L),
      (3L, s"a${J}a", "a", s"a${J}a${J}a", 1L)))
  }

  test("q115: every multi-token doc scored, nll positive, repetition scores as more predictable") {
    val out = CorpusStats.q115BigramPerplexity(spark, sf).cache()
    val expected = Tables.documents(spark, sf)
      .filter(size(graft.functions.TextFns.words(col("text"))) >= 2).count()
    assert(out.count() === expected, "one score per document with >= 2 tokens")
    // smoothed probabilities are strictly < 1, so nll is strictly positive
    assert(out.filter(col("nll_per_token") <= 0.0).isEmpty)
    out.unpersist()
    // a doc of one repeated transition must score far more predictable
    // than a doc of singleton transitions, under the model both induce
    val dir = java.nio.file.Files.createTempDirectory("graft_bigram").toString
    import spark.implicits._
    Seq((1L, "p p p p p p p p", "en", "web", 15L),
      (2L, "q r s t u v w x", "en", "web", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = CorpusStats.q115BigramPerplexity(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("nll_per_token")).toMap
    assert(rows(1L) < rows(2L),
      s"repetitive doc (${rows(1L)}) must beat the singleton-transition doc (${rows(2L)})")
  }

  test("q120: incremental merge equals the full recompute and is split-invariant") {
    val got = Analytics.q120IncrementalAgg(spark, sf).collect().toSeq
    val full = Tables.events(spark, sf)
      .select(to_date(col("ts")).as("day"), col("event_type"), col("value"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(col("day").cast("timestamp").as("day"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(col("day"), col("event_type"))
      .collect().toSeq
    assert(got === full, "incremental maintenance diverged from the full recompute")
    // associativity: a 3-way batching merges to the identical table
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
    def partial(lo: Int, hi: Int) = ev
      .filter(dayofmonth(col("day")).between(lo, hi))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_part"),
        sum(col("value").cast("decimal(18,6)")).as("sv_part"))
    val threeWay = partial(1, 10).unionByName(partial(11, 20)).unionByName(partial(21, 31))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("n_part")).as("n_events"),
        sum(col("sv_part")).cast("double").as("sum_value"))
      .select(col("day").cast("timestamp").as("day"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(col("day"), col("event_type"))
      .collect().toSeq
    assert(threeWay === full, "3-way batch merge diverged — partials are not associative")
  }

  test("q114: merged daily sketches equal the direct sketch exactly, inside the HLL envelope") {
    // THE pre-aggregation algebra: HLL registers merge by max, so the
    // union of the daily sketches is byte-for-byte the global sketch —
    // estimates must agree exactly, or materialized sketch tables would
    // silently drift from the log they summarize. Since r13 the query
    // emits these verdicts itself (hash-proven by the oracle's TRUE
    // columns at gate scale); here the merge law is re-derived from
    // fresh sketches so a broken boolean in the query can't self-certify.
    val rows = Analytics.q114SketchRollup(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      assert(r.getAs[Boolean]("users_merge_close"), s"$t: merged user sketch diverged")
      assert(r.getAs[Boolean]("events_merge_close"), s"$t: merged event sketch diverged")
      assert(r.getAs[Boolean]("users_within_env"), s"$t: user estimate outside envelope")
      assert(r.getAs[Boolean]("events_within_env"), s"$t: event estimate outside envelope")
    }
    // independent recompute of the merge law: day-grain sketches unioned
    // vs one direct sketch, built here rather than trusting the query
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
    val merged = ev.groupBy(col("event_type"), col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("m"))
    val direct = ev.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("d"),
        countDistinct(col("user_id")).as("e"))
    merged.join(direct, Seq("event_type")).collect().foreach { r =>
      assert(r.getAs[Long]("m") === r.getAs[Long]("d"),
        s"${r.getString(0)}: independent merge law recompute diverged")
      assert(math.abs(r.getAs[Long]("m") - r.getAs[Long]("e")) <=
        math.max(1L, math.ceil(r.getAs[Long]("e") * 0.05).toLong),
        s"${r.getString(0)}: independent envelope recompute violated")
    }
    val exact = Tables.events(spark, sf).groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("ue")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(r.getAs[Long]("users_exact") ===
      exact(r.getAs[String]("event_type"))))
  }

  test("q111: hand-computed encode counts on the q107 fixture") {
    // same corpus as the q107 fixture; after the 3 learned rules:
    // doc1 "a a a a" → "a␁a a␁a"   (raw 4 → 2)
    // doc2 "a a a"   → "a␁a␁a"     (r1: "a␁a a", r3 merges (a␁a, a) → 1)
    // doc3 "b c b c b" → "b␁c b␁c b" (r2 greedy → 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_enc").toString
    import spark.implicits._
    Seq((1L, "a a a a", "en", "web", 7L), (2L, "a a a", "en", "web", 5L),
      (3L, "b c b c b", "en", "web", 9L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CorpusStats.q111BpeEncode(spark, dir)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tok_raw"),
        r.getAs[Long]("n_tok_bpe"), r.getAs[Long]("n_merged"))).toSeq
    assert(got === Seq((1L, 4L, 2L, 2L), (2L, 3L, 1L, 2L), (3L, 5L, 3L, 2L)))
  }

  test("q111: real-corpus encode accounting is conservative against the q107 rule supports") {
    val enc = CorpusStats.q111BpeEncode(spark, sf).cache()
    assert(enc.count() === Tables.documents(spark, sf).count())
    assert(enc.filter(col("n_merged") < 0 || col("n_tok_bpe") < 1).isEmpty)
    // every merge event consumes one adjacent pair that the winning rule
    // counted in ITS round, and greedy non-overlap can only apply a rule
    // at most pair_count times — so corpus-wide merges are bounded by the
    // sum of the learned rules' supports (and at least one must land)
    val totalMerged = enc.agg(sum(col("n_merged"))).head().getLong(0)
    val ruleSupport = CorpusStats.q107BpeMerges(spark, sf)
      .agg(sum(col("pair_count"))).head().getLong(0)
    assert(totalMerged >= 1L && totalMerged <= ruleSupport,
      s"total merges $totalMerged outside (0, $ruleSupport]")
    enc.unpersist()
  }

  test("q107 and q111 started together trigger one BPE fold build") {
    // the two consumers of the one bpe_fold memo, released at once
    // through a latch after a clear: both block on a single build and
    // both answer exactly as they do run one after the other
    import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
    import org.apache.spark.sql.{DataFrame, Row, SparkSession}
    val sequential = Seq(CorpusStats.q107BpeMerges(spark, sf).collect().toSeq,
      CorpusStats.q111BpeEncode(spark, sf).collect().toSeq)
    Dedup.clearMemos()
    val n0 = Dedup.memoBuildCount
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val futures = Seq[(SparkSession, String) => DataFrame](
          CorpusStats.q107BpeMerges, CorpusStats.q111BpeEncode)
        .map { q =>
          pool.submit(new Callable[Seq[Row]] {
            def call(): Seq[Row] = {
              start.await(30, TimeUnit.SECONDS)
              q(spark, sf).collect().toSeq
            }
          })
        }
      start.countDown()
      val concurrent = futures.map(_.get(300, TimeUnit.SECONDS))
      val folds = Dedup.memoBuildsSince(n0).map(_._1).count(_ == "bpe_fold")
      assert(folds === 1, s"$folds BPE fold builds for two concurrent consumers")
      assert(concurrent === sequential, "concurrent answers differ from sequential runs")
    } finally pool.shutdown()
  }

  test("q107: an exhausted corpus stops emitting rules instead of being emptied") {
    // Round 1 merges the only pair; rounds 2-3 find zero adjacent pairs.
    // The LEFT-join rule application must pass the corpus through
    // unchanged (not empty it via a join against zero rule rows), and the
    // output simply has fewer than BpeRounds rows.
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_dry").toString
    import spark.implicits._
    Seq((1L, "x y", "en", "web", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CorpusStats.q107BpeMerges(spark, dir)
      .collect().map(r => (r.getAs[Long]("round"), r.getAs[String]("left_sym"),
        r.getAs[String]("right_sym"), r.getAs[Long]("pair_count"))).toSeq
    assert(got === Seq((1L, "x", "y", 1L)))
  }

  test("q107: real-corpus merge table is well-formed and support is non-increasing") {
    val rows = CorpusStats.q107BpeMerges(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("round")).toSeq === (1L to BpeRounds.toLong))
    // every adjacent pair in round r+1 maps injectively into a round-r
    // pair ((x, l_r) instances come from old (x, l) ones), so the winning
    // support can never grow across rounds
    val support = rows.map(_.getAs[Long]("pair_count"))
    assert(support.zip(support.tail).forall { case (a, b) => a >= b })
    // round 1 equals an independently computed corpus bigram argmax
    val ww = Tables.documents(spark, sf)
      .select(graft.functions.TextFns.words(col("text")).as("ww"))
      .filter(size(col("ww")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(ww) - 1), i -> struct(element_at(ww, i) AS l, element_at(ww, i + 1) AS r))")).as("b"))
      .groupBy(col("b.l"), col("b.r")).count()
      .orderBy(col("count").desc, col("l"), col("r")).limit(1)
      .head()
    assert((rows.head.getAs[String]("left_sym"), rows.head.getAs[String]("right_sym"),
      rows.head.getAs[Long]("pair_count")) ===
      (ww.getAs[String]("l"), ww.getAs[String]("r"), ww.getAs[Long]("count")))
  }

  test("q124: merged partials equal an in-memory recount of the encoded corpus") {
    val out = CorpusStats.q124BpeIncrement(spark, sf).collect()
      .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym"),
        r.getAs[Long]("pair_count"), r.getAs[Long]("base_count"),
        r.getAs[Long]("delta_count")))
    // independent ground truth: one driver-side pass over the encoded
    // corpus, counting adjacent pairs with base/delta provenance
    val enc = CorpusStats.bpeFold(spark, sf)._2
      .select(col("doc_id"), col("txt")).collect()
    val counts = scala.collection.mutable.Map.empty[(String, String), (Long, Long)]
      .withDefaultValue((0L, 0L))
    enc.foreach { r =>
      val delta = r.getAs[Long]("doc_id") % 10 == 3
      val toks = r.getAs[String]("txt").split(" ")
      toks.iterator.zip(toks.iterator.drop(1)).foreach { p =>
        val (b, d) = counts(p)
        counts(p) = if (delta) (b, d + 1) else (b + 1, d)
      }
    }
    val expect = counts.toSeq
      .map { case ((l, r), (b, d)) => (l, r, b + d, b, d) }
      .sortBy { case (l, r, t, _, _) => (-t, l, r) }
      .take(CorpusStats.BpeCandidates)
    assert(out.toSeq === expect)
    // both sides of the merge genuinely contribute on the fixture
    assert(out.exists(_._4 > 0) && out.exists(_._5 > 0),
      "fixture increment is vacuous — no base or no delta pairs in the top-k")
  }

  test("q129: ranks are dense per day and deltas agree with a calendar-day recompute") {
    val rows = Analytics.q129Trending(spark, sf).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("day").toLocalDateTime.toLocalDate,
        r.getAs[String]("event_type"), r.getAs[Long]("n_events"),
        r.getAs[Long]("rnk"), Option(r.getAs[java.lang.Long]("prev_rank")).map(_.toLong)))
    assert(rows.nonEmpty)
    val byDay = rows.groupBy(_._1)
    byDay.foreach { case (day, g) =>
      // total tie order (count DESC, type) ⇒ ranks are exactly 1..k
      val ranked = g.sortBy(r => (-r._3, r._2))
      assert(ranked.map(_._4).toSeq === (1L to g.length).toSeq, s"ranks not dense on $day")
    }
    // prev_rank is the same type's rank on the PREVIOUS CALENDAR day —
    // null exactly when the type had no events that day
    val rankAt = rows.map(r => (r._1, r._2) -> r._4).toMap
    rows.foreach { case (day, tpe, _, _, prev) =>
      assert(prev === rankAt.get((day.minusDays(1), tpe)),
        s"prev_rank wrong for $tpe on $day")
    }
    // the report genuinely moves on the fixture
    assert(rows.exists(r => r._5.exists(_ != r._4)), "no rank movement — vacuous fixture")
  }

  test("q139: U-shaped credit matches a journey replay and conserves one unit per closed journey") {
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // replay: per user in (ts, event_id) order, a purchase closes the
    // journey holding the touches accumulated since the previous purchase
    val credit = collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val touchesByType = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var closedJourneys = 0L
    evs.groupBy(_._1).values.foreach { g =>
      var pending = Vector.empty[String]
      g.sortBy(e => (e._2, e._3)).foreach { case (_, _, _, tpe) =>
        if (tpe == "purchase") {
          val n = pending.length
          if (n > 0) {
            closedJourneys += 1
            pending.zipWithIndex.foreach { case (t, i) =>
              val w =
                if (n == 1) 1.0
                else if (i == 0 || i == n - 1) { if (n == 2) 0.5 else 0.4 }
                else 0.2 / (n - 2)
              credit(t) += w
              }
            pending.foreach(t => touchesByType(t) += 1)
          }
          pending = Vector.empty
        } else pending :+= tpe
      }
    }
    val rows = Analytics.q139MultiTouch(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_touches"),
        r.getAs[Double]("total_credit")))
    assert(rows.map(_._1).toSet === credit.keySet)
    rows.foreach { case (tpe, n, c) =>
      assert(n === touchesByType(tpe), s"$tpe touch count diverged")
      assert(math.abs(c - credit(tpe)) < 1e-5, s"$tpe credit diverged: $c vs ${credit(tpe)}")
    }
    // conservation: each closed journey hands out exactly one unit of credit
    assert(math.abs(rows.map(_._3).sum - closedJourneys.toDouble) < 1e-4,
      s"total credit ${rows.map(_._3).sum} != closed journeys $closedJourneys")
    assert(closedJourneys > 0, "no closed journeys — vacuous fixture")
  }

  test("q153: trigram counts match a stream replay and conditionals stay sub-stochastic") {
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val streams = evs.groupBy(_._1).values.map(_.sortBy(e => (e._2, e._3)).map(_._4)).toSeq
    val big = streams.flatMap(o => o.zip(o.tail)).groupBy(identity)
      .map { case (k, g) => k -> g.size.toLong }
    val tri = streams.flatMap(o => o.lazyZip(o.drop(1)).lazyZip(o.drop(2)).toSeq)
      .groupBy(identity).map { case (k, g) => k -> g.size.toLong }
    val rows = Analytics.q153PathTrigrams(spark, sf).collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b"), r.getAs[String]("c")) ->
        (r.getAs[Long]("n_abc"), r.getAs[Long]("n_ab"), r.getAs[Double]("p_c_given_ab"))).toMap
    assert(rows.keySet === tri.keySet, "trigram keyspace diverged from the replay")
    rows.foreach { case (k @ (a, b, _), (nabc, nab, p) ) =>
      assert(nabc === tri(k), s"$k count diverged")
      assert(nab === big((a, b)), s"($a,$b) context count diverged")
      assert(p > 0 && p <= 1.0)
    }
    // per (a,b) context the conditionals sum to ≤ 1 (the missing mass is
    // streams ENDING after (a,b) — n_ab counts those pairs too)
    rows.groupBy { case ((a, b, _), _) => (a, b) }.foreach { case (ctx, g) =>
      val mass = g.values.map(_._3).sum
      // each conditional is rounded to 6dp (HALF_UP), so a fully-
      // continuing context can exceed 1 by up to |terms|·5e-7
      assert(mass <= 1.0 + g.size * 5e-7 + 1e-9, s"context $ctx over-stochastic: $mass")
    }
  }

  test("q152: RFM segments match a median-split replay and conserve the user count") {
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val horizon = evs.map(_._2).max
    val users = evs.groupBy(_._1).map { case (_, g) =>
      ((horizon - g.map(_._2).max) / 1000000L,      // recency_s (floor)
       g.length.toLong,                             // frequency
       BigDecimal(g.map(_._3).sum).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val pos = 0.5 * (s.length - 1); val i = pos.toInt; val f = pos - i
      if (i + 1 < s.length) s(i) * (1 - f) + s(i + 1) * f else s(i)
    }
    val (rM, fM, mM) = (median(users.map(_._1.toDouble)),
      median(users.map(_._2.toDouble)), median(users.map(_._3)))
    val expect = users.groupBy { case (r, f, m) =>
      (if (r < rM) "hi" else "lo") + "_" + (if (f > fM) "hi" else "lo") + "_" +
        (if (m > mM) "hi" else "lo")
    }.map { case (seg, g) => seg -> g.size.toLong }
    val rows = Analytics.q152RfmSegments(spark, sf).collect()
    assert(rows.map(_.getAs[String]("segment")).toSet === expect.keySet)
    rows.foreach { r =>
      val seg = r.getAs[String]("segment")
      assert(r.getAs[Long]("n_users") === expect(seg), s"$seg count diverged")
      assert(r.getAs[Double]("avg_recency_s") >= 0.0)
    }
    // conservation: every user lands in exactly one segment
    assert(rows.map(_.getAs[Long]("n_users")).sum === users.size.toLong)
    // median splits genuinely partition EVERY axis: each of the three
    // positions must take both values somewhere in the output
    val segs = rows.map(_.getAs[String]("segment").split("_"))
    for (axis <- 0 to 2)
      assert(segs.map(_(axis)).toSet === Set("hi", "lo"),
        s"axis $axis never splits — its median comparison is vacuous")
  }

  test("q149: lift matches a session replay and respects the marginal bounds") {
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // replay 30-minute gaps-and-islands sessionization
    val sessions = evs.groupBy(_._1).toSeq.flatMap { case (uid, g) =>
      val ordered = g.sortBy(e => (e._2, e._3))
      var grp = 0L
      var prev = Long.MinValue
      ordered.map { e =>
        if (prev == Long.MinValue || e._2 - prev >= Analytics.LiftGapUs) grp += 1
        prev = e._2
        ((uid, grp), e._4)
      }
    }.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSet }
    val n = sessions.size.toLong
    val marg = sessions.values.toSeq.flatten.groupBy(identity).map { case (t, g) => t -> g.size.toLong }
    val rows = Analytics.q149SessionLift(spark, sf).collect()
    // completeness: the output must be EXACTLY the replayed co-occurring
    // pair set — a dropped pair is as wrong as a fabricated one
    val expectPairs = (for {
      s <- sessions.values.toSeq
      a <- s; b <- s if a < b
    } yield (a, b)).toSet
    assert(rows.map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b"))).toSet
      === expectPairs, "pair set diverged from the session replay")
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("type_a"), r.getAs[String]("type_b"))
      val both = sessions.values.count(s => s(a) && s(b)).toLong
      assert(r.getAs[Long]("n_both") === both, s"($a,$b) co-occurrence diverged")
      assert(r.getAs[Long]("n_a") === marg(a) && r.getAs[Long]("n_b") === marg(b))
      assert(both <= math.min(marg(a), marg(b)), "co-occurrence exceeds a marginal")
      val lift = both.toDouble * n / (marg(a) * marg(b))
      assert(math.abs(r.getAs[Double]("lift") - lift) < 1e-5)
      assert(r.getAs[Double]("support") >= 0 && r.getAs[Double]("support") <= 1)
    }
    assert(rows.nonEmpty)
  }

  test("q150: the trained argmax and the backtest accuracy match an in-memory replay") {
    val cutUs = java.time.LocalDateTime
      .parse(graft.queries.TrainingData.SplitCutoff,
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    def pairs(p: ((Long, Long, Long, String)) => Boolean): Seq[(String, String)] =
      evs.filter(p).groupBy(_._1).toSeq.flatMap { case (_, g) =>
        val o = g.sortBy(e => (e._2, e._3)).map(_._4)
        o.zip(o.tail)
      }
    val trained = pairs(_._2 <= cutUs).groupBy(identity)
      .map { case ((c, x), g) => (c, x) -> g.size }
    val model = trained.groupBy(_._1._1).map { case (c, g) =>
      c -> g.toSeq.map { case ((_, x), m) => (x, m) }.sortBy { case (x, m) => (-m, x) }.head._1
    }
    val test = pairs(_._2 > cutUs)
    val rows = Analytics.q150MarkovBacktest(spark, sf).collect()
    assert(rows.map(_.getAs[String]("cur")).toSet === test.map(_._1).toSet)
    rows.foreach { r =>
      val cur = r.getAs[String]("cur")
      val mine = test.filter(_._1 == cur)
      assert(r.getAs[Long]("n_test") === mine.length.toLong)
      assert(Option(r.getAs[String]("predicted_next")) === model.get(cur),
        s"$cur: argmax diverged")
      val correct = model.get(cur).map(p => mine.count(_._2 == p)).getOrElse(0)
      assert(r.getAs[Long]("n_correct") === correct.toLong)
      val acc = r.getAs[Double]("accuracy")
      assert(acc >= 0.0 && acc <= 1.0)
    }
    // the backtest genuinely predicts something right somewhere (sanity
    // that the fixture's event stream isn't adversarially uniform)
    assert(rows.map(_.getAs[Long]("n_correct")).sum > 0L)
  }

  test("q145: latency cohorts are exactly q77's converters and quantiles are ordered") {
    val lat = Analytics.q145FunnelLatency(spark, sf).collect()
      .map(r => r.getAs[String]("transition") ->
        (r.getAs[Long]("n_users"), r.getAs[Double]("p50_s"),
         r.getAs[Double]("p90_s"), r.getAs[Double]("max_s"))).toMap
    val funnel = Analytics.q77EventFunnel(spark, sf).collect()
      .map(r => r.getAs[Int]("step") -> r.getAs[Long]("n_users")).toMap
    val steps = Analytics.FunnelSteps
    // same step semantics ⇒ the latency cohort sizes ARE the funnel counts
    assert(lat(s"${steps(0)}_to_${steps(1)}")._1 === funnel(2))
    assert(lat(s"${steps(1)}_to_${steps(2)}")._1 === funnel(3))
    lat.values.foreach { case (n, p50, p90, mx) =>
      assert(n > 0)
      // strictly-after step semantics ⇒ every latency is positive, and the
      // quantile ladder is ordered
      assert(p50 > 0 && p50 <= p90 && p90 <= mx)
    }
  }

  test("q143: hash buckets match an md5 replay and conserve the occurrence mass") {
    val words = Tables.documents(spark, sf).select(col("text")).collect()
      .flatMap(_.getString(0).trim.split("\\s+"))
    val vocab = words.groupBy(identity).map { case (w, g) => w -> g.length.toLong }
    def bucket(w: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16) % CorpusStats.HashFeatBuckets
    }
    val expect = vocab.toSeq.groupBy { case (w, _) => bucket(w) }
      .map { case (b, g) => (b, g.length.toLong, g.map(_._2).sum) }.toSet
    val rows = CorpusStats.q143FeatureHash(spark, sf).collect()
    val got = rows.map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("n_features"),
      r.getAs[Long]("n_occurrences"))).toSet
    assert(got === expect)
    rows.foreach(r =>
      assert(r.getAs[Boolean]("collided") === (r.getAs[Long]("n_features") > 1L)))
    // conservation: every vocabulary entry and every occurrence lands in
    // exactly one bucket
    assert(rows.map(_.getAs[Long]("n_features")).sum === vocab.size.toLong)
    assert(rows.map(_.getAs[Long]("n_occurrences")).sum === words.length.toLong)
    // the audit's reason to exist: the 256-bucket space genuinely collides
    assert(rows.exists(_.getAs[Boolean]("collided")), "no collisions — vacuous fixture")
  }

  test("q165: estimates match a plain-Scala sketch replay and are one-sided (est >= exact)") {
    def md5hex(s: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def h60(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(15), 16)
    val words = Tables.documents(spark, sf).select(col("text")).collect()
      .flatMap(_.getString(0).trim.split("\\s+"))
    val vocab = words.groupBy(identity).map { case (w, g) => w -> g.length.toLong }
    // the d x w counter table, exactly as the engine builds it
    val counters = (0 until CorpusStats.CmsDepth).map { r =>
      val row = new Array[Long](CorpusStats.CmsWidth)
      vocab.foreach { case (t, c) =>
        row((h60(t + s":cms$r") % CorpusStats.CmsWidth).toInt) += c
      }
      row
    }
    def est(t: String): Long = (0 until CorpusStats.CmsDepth).map(r =>
      counters(r)((h60(t + s":cms$r") % CorpusStats.CmsWidth).toInt)).min
    val expect = vocab.toSeq.sortBy { case (t, c) => (-c, h60(t)) }
      .take(CorpusStats.CmsTrackK).zipWithIndex
      .map { case ((t, c), i) => (i + 1L, t, c, est(t), est(t) - c) }
    val got = CorpusStats.q165CmsHeavyHitters(spark, sf).collect().map(r =>
      (r.getAs[Long]("rnk"), r.getAs[String]("token"), r.getAs[Long]("exact_cnt"),
        r.getAs[Long]("cms_est"), r.getAs[Long]("overcount"))).toSeq
    assert(got === expect)
    // Cormode-Muthukrishnan one-sidedness: a counter sums its token's own
    // count plus non-negative collision mass, in EVERY row, so the min
    // can never undershoot. This must hold unconditionally.
    got.foreach { case (_, t, exact, e, over) =>
      assert(e >= exact, s"sketch undershot on '$t'")
      assert(over === e - exact)
    }
    // conservation: every sketch row carries the full occurrence mass
    counters.foreach(row => assert(row.sum === words.length.toLong))
  }

  test("q169: per-source sketches are one-sided, conserve mass, and merge EXACTLY to the global sketch") {
    val global = CorpusStats.q165CmsHeavyHitters(spark, sf).collect()
      .map(r => r.getAs[String]("token") ->
        (r.getAs[Long]("exact_cnt"), r.getAs[Long]("cms_est"))).toMap
    val rows = CorpusStats.q169CmsMerge(spark, sf).collect().map(r =>
      (r.getAs[Long]("rnk"), r.getAs[String]("token"), r.getAs[String]("source"),
        r.getAs[Long]("src_exact"), r.getAs[Long]("src_est"), r.getAs[Long]("merged_est")))
    assert(rows.nonEmpty)
    // one-sidedness holds per SOURCE sketch too (same theorem, local counters)
    rows.foreach { case (_, t, src, exact, est, _) =>
      assert(est >= exact, s"source sketch undershot on ('$t', $src)")
    }
    rows.groupBy(_._2).foreach { case (t, g) =>
      // conservation: source-local exact counts partition the global count
      assert(g.map(_._4).sum === global(t)._1, s"source exacts don't sum for '$t'")
      // the MERGEABILITY theorem, measured: summed counters ≡ the global
      // sketch, so the merged estimate equals q165's for every token
      g.foreach { case (_, _, src, _, _, merged) =>
        assert(merged === global(t)._2, s"merge diverged from global on ('$t', $src)")
      }
    }
    // grid completeness: every tracked token reports against EVERY source
    // (absent combos included — that's where false-positive mass shows)
    val nSources = Tables.documents(spark, sf).select(col("source")).distinct().count()
    assert(rows.length.toLong === CorpusStats.CmsTrackK * nSources)
  }

  test("q140: rolling 7-day actives match a brute-force window recount") {
    val ud = Tables.events(spark, sf)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct().collect()
      .map(r => (r.getLong(0), r.getAs[java.sql.Date](1).toLocalDate))
    val byDay = ud.groupBy(_._2)
    val rows = Analytics.q140RollingActives(spark, sf).collect()
    assert(rows.map(_.getAs[java.sql.Timestamp]("day").toInstant
      .atZone(java.time.ZoneOffset.UTC).toLocalDate).toSet === byDay.keySet,
      "output days must be exactly the days with events")
    rows.foreach { r =>
      val day = r.getAs[java.sql.Timestamp]("day").toInstant
        .atZone(java.time.ZoneOffset.UTC).toLocalDate
      val dau = byDay(day).map(_._1).distinct.length
      val wau = ud.filter { case (_, d) =>
        !d.isAfter(day) && !d.isBefore(day.minusDays(6))
      }.map(_._1).distinct.length
      assert(r.getAs[Long]("dau") === dau.toLong, s"dau diverged on $day")
      assert(r.getAs[Long]("wau7") === wau.toLong, s"wau7 diverged on $day")
      assert(r.getAs[Long]("wau7") >= r.getAs[Long]("dau"))
    }
    // the window genuinely widens somewhere (else the 7-day union is vacuous)
    assert(rows.exists(r => r.getAs[Long]("wau7") > r.getAs[Long]("dau")))
  }

  test("q186 ≡ plain-Scala Heaps replay, and the curve is monotone & concave-ish") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    def toks(t: String): Seq[String] = t.trim.split("\\s+").toSeq
    val n = docs.length
    val expected = CorpusStats.GrowthPcts.map { pct =>
      val m = n.toLong * pct / 100
      val prefix = docs.take(m.toInt)
      (pct, m, prefix.map(d => toks(d._2).size.toLong).sum,
        prefix.flatMap(d => toks(d._2)).distinct.size.toLong)
    }
    val got = CorpusStats.q186VocabGrowth(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expected)
    // vocab grows monotonically, and sublinearly vs tokens (Heaps β < 1
    // on any natural-ish corpus: the 50%→100% vocab ratio is smaller
    // than the token ratio)
    val v = expected.map(_._4)
    assert(v.zip(v.tail).forall { case (a, b) => a <= b })
    val (t50, v50) = (expected(5)._3.toDouble, expected(5)._4.toDouble)
    val (t100, v100) = (expected(6)._3.toDouble, expected(6)._4.toDouble)
    assert(v100 / v50 < t100 / t50, "vocabulary must grow sublinearly in tokens")
  }

  test("q187 ≡ plain-Scala dup-growth replay against the q45 labels") {
    val labels = Dedup.componentLabels(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val n = Tables.documents(spark, sf).count()
    val expected = CorpusStats.GrowthPcts.map { pct =>
      val m = n * pct / 100
      val mem = labels.filter(_._1 < m) // ids are dense 0..n-1 ⇒ rank = id+1
      (pct, m, mem.length.toLong, mem.map(_._2).distinct.length.toLong,
        (mem.length - mem.map(_._2).distinct.length).toLong)
    }
    val got = CorpusStats.q187DupGrowth(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got === expected)
    // the fixture makes the curve non-trivial: duplicates exist at full
    // size, and the dup RATE grows with the prefix (the birthday effect
    // the operator exists to demonstrate)
    val full = expected.last
    assert(full._5 > 0, "no duplicates at 100% — fixture degenerate")
    val half = expected(5)
    assert(full._5.toDouble / full._2 >= half._5.toDouble / half._2,
      "dup rate must not shrink from 50% to 100%")
  }

  test("q188: per-language sums reconcile with q111's per-document encode accounting") {
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val enc = CorpusStats.q111BpeEncode(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_tok_raw"), r.getAs[Long]("n_tok_bpe")))
      .toMap
    val meta = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = meta.groupBy(_._2).toSeq.map { case (lang, g) =>
      val words = g.map(d => enc(d._1)._1).sum
      val toks = g.map(d => enc(d._1)._2).sum
      val chars = g.map(_._3).sum
      (lang, g.size.toLong, words, toks, chars,
        round6(toks.toDouble / words), round6(chars.toDouble / toks))
    }.sortBy(_._1)
    val got = CorpusStats.q188TokenizerFertility(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toSeq
    assert(got === expected)
    // the report is non-degenerate: the learned merges land somewhere
    // (some language's fertility < 1), and languages differ
    assert(got.exists(_._6 < 1.0), "no language compressed — merges vacuous")
    assert(got.map(_._6).distinct.size > 1, "all languages identical — report uninformative")
  }

  test("q190 ≡ replay from the q22 pair list; pair mass conserved; both matrix regions present") {
    val srcs = Tables.documents(spark, sf).select(col("doc_id"), col("source"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = Dedup.q22Cached(spark, sf).select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = pairs
      .map { case (a, b) =>
        val (sa, sb) = (srcs(a), srcs(b))
        (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa) }
      .groupBy(identity).map { case (k, g) => (k._1, k._2, g.size.toLong) }
      .toSeq.sortBy(t => (t._1, t._2))
    val cnt = srcs.values.groupBy(identity).map { case (k, g) => k -> g.size.toLong }
    val got = CorpusStats.q190SourceContamination(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.map(t => (t._1, t._2, t._3)).toSeq === expected)
    got.foreach { t => assert(t._4 === cnt(t._1) && t._5 === cnt(t._2)) }
    // every near-dup pair lands in exactly one cell
    assert(got.map(_._3).sum === pairs.length.toLong)
    // the fixture exercises both regions: within-source AND cross-source
    assert(got.exists(t => t._1 == t._2), "no within-source cell")
    assert(got.exists(t => t._1 != t._2), "no cross-source cell")
  }

  test("q191 ≡ plain-Scala interpolated Kneser–Ney replay; KN reranks vs add-k") {
    def round4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").toSeq))
      .filter(_._2.size >= 2)
    val docBi = docs.map { case (id, ww) =>
      id -> ww.zip(ww.tail).groupBy(identity).map { case (b, g) => b -> g.size.toLong } }
    val big = docBi.flatMap(_._2).groupBy(_._1).map { case (b, g) => b -> g.map(_._2).sum }
    val cL = big.groupBy(_._1._1).map { case (l, g) => l -> g.values.sum }
    val n1L = big.groupBy(_._1._1).map { case (l, g) => l -> g.size.toLong }
    val n1R = big.groupBy(_._1._2).map { case (r, g) => r -> g.size.toLong }
    val n1All = big.size.toDouble
    val d = CorpusStats.KnDiscount
    def logp(l: String, r: String): Double =
      math.log((big((l, r)).toDouble - d) / cL(l).toDouble
        + (d * n1L(l).toDouble / cL(l).toDouble) * (n1R(r).toDouble / n1All))
    val expected = docBi.map { case (id, ks) =>
      val n = ks.values.sum
      (id, n, round4(-ks.map { case ((l, r), k) => k * logp(l, r) }.sum / n))
    }.sortBy(_._1)
    val got = CorpusStats.q191KneserNey(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // same keyspace and counts; NLL within one 4dp ulp (Scala's sum order
    // differs from both engines' — the oracle hash pins engine ≡ engine,
    // this replay pins the FORMULA)
    assert(got.map(t => (t._1, t._2)) === expected.map(t => (t._1, t._2)))
    got.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g._3 - e._3) <= 1e-4 + 1e-9, s"doc ${g._1}: ${g._3} vs ${e._3}") }
    // KN is a different model than q115's add-k: the two NLLs disagree
    // somewhere, and every probability is < 1 so every NLL is positive
    assert(got.forall(_._3 > 0.0))
    val addk = CorpusStats.q115BigramPerplexity(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(got.exists(g => math.abs(addk(g._1) - g._3) > 1e-3),
      "KN ≡ add-k everywhere — smoothing vacuous")
  }
}
