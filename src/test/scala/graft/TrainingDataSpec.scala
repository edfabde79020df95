package graft

import org.apache.spark.sql.functions._

import graft.queries.TrainingData
import graft.queries.TrainingData._

/** Invariants of the training-data curation operators (q47–q54) beyond the
  * DuckDB oracle: sampling determinism and rate semantics, mixture fan-out
  * bounds, id-mapping bijectivity, statistic ranges, top-k shape, and the
  * bucketed range join against a brute-force non-equi join.
  */
class TrainingDataSpec extends SparkTestBase {

  test("q47: kept rows satisfy the per-language threshold; zh stratum is kept whole") {
    val out = TrainingData.q47StratifiedSample(spark, sf).cache()
    val rates = StratRates.toMap
    val bad = out.collect().filter(r => r.getAs[Double]("u") >= rates(r.getAs[String]("lang")) + 1e-6)
    assert(bad.isEmpty)
    val zhTotal = Tables.documents(spark, sf).filter(col("lang") === "zh").count()
    assert(out.filter(col("lang") === "zh").count() === zhTotal, "rate 1.0 keeps everything")
    // hash sampling is deterministic: identical output on re-evaluation
    assert(TrainingData.q47StratifiedSample(spark, sf).collect()
      .sameElements(out.orderBy(col("doc_id")).collect()))
    out.unpersist()
  }

  test("q48: split assignment partitions the corpus exactly") {
    val out = TrainingData.q48SplitAssign(spark, sf)
    val total = out.agg(sum(col("n_docs"))).head.getLong(0)
    assert(total === Tables.documents(spark, sf).count())
    val splits = out.select("split").distinct().collect().map(_.getString(0)).toSet
    assert(splits.subsetOf(Set("train", "val", "test")))
  }

  test("q105: component split partitions the corpus, conserves components, and leaks zero pairs") {
    val out = TrainingData.q105LeakageSafeSplit(spark, sf).cache()
    val rows = out.collect()
    // splits partition the corpus
    assert(rows.map(_.getAs[Long]("n_docs")).sum ===
      Tables.documents(spark, sf).count())
    // component conservation: summing per-split distinct components equals
    // the corpus-wide component count — with zero edge leakage (below) and
    // edge-connectivity of components, this proves every component lands
    // WHOLLY in one split (a straddling component would be counted twice).
    val labels = graft.queries.Dedup.componentLabels(spark, sf)
    val totalComps = Tables.documents(spark, sf).select(col("doc_id"))
      .join(labels, col("doc_id") === col("doc"), "left")
      .select(coalesce(col("comp"), col("doc_id")).as("c"))
      .distinct().count()
    assert(rows.map(_.getAs[Long]("n_components")).sum === totalComps)
    // the audit MEASURES zero cross-split near-dup pairs for the component
    // scheme; the naive per-doc scheme's count is a nonnegative constant
    // replicated on every row
    assert(rows.forall(_.getAs[Long]("comp_leaked_pairs") === 0L))
    val naive = rows.map(_.getAs[Long]("naive_leaked_pairs")).distinct
    assert(naive.length === 1 && naive.head >= 0L)
    out.unpersist()
  }

  test("q49: mixture fan-out is bounded by the weight ceiling and matches the copies column") {
    val out = TrainingData.q49SourceMixture(spark, sf).cache()
    // weight ∈ {0.5, 1.25, 2.0, 2.75} ⇒ copies ∈ [0, 3]; copy_idx ≤ copies
    assert(out.filter(col("copy_idx") > col("copies") || col("copies") > 3).isEmpty)
    val perDoc = out.groupBy(col("doc_id"), col("copies")).agg(count(lit(1)).as("n"))
      .filter(col("n") =!= col("copies"))
    assert(perDoc.isEmpty, "each doc appears exactly `copies` times")
    out.unpersist()
  }

  test("q50: dense ids are a contiguous bijection over the user dictionary") {
    val out = TrainingData.q50IdDensify(spark, sf).cache()
    val users = out.select("user_id", "uid_dense", "uid_pseudo").distinct().cache()
    val n = users.count()
    assert(n === Tables.events(spark, sf).select("user_id").distinct().count())
    assert(users.agg(max(col("uid_dense"))).head.getLong(0) === n)
    assert(users.agg(min(col("uid_dense"))).head.getLong(0) === 1L)
    assert(users.select("uid_pseudo").distinct().count() === n)
    assert(out.count() === Tables.events(spark, sf).count(), "every event keeps its row")
    users.unpersist(); out.unpersist()
  }

  test("q51: repetition statistics stay in range") {
    val out = TrainingData.q51RepetitionStats(spark, sf)
    val bad = out.filter(
      col("n_distinct") > col("n_words") ||
      col("tri_distinct") > col("tri_total") ||
      col("top_word_ratio") < 0 || col("top_word_ratio") > 1 ||
      col("dup_3gram_frac") < 0 || col("dup_3gram_frac") > 1)
    assert(bad.isEmpty)
    assert(out.count() === Tables.documents(spark, sf).count())
  }

  test("q52: per-language top-k is at most 10 and ordered by doc_freq") {
    val out = TrainingData.q52HeavyHitters(spark, sf).cache()
    assert(out.groupBy("lang").agg(count(lit(1)).as("n"))
      .filter(col("n") > 10).isEmpty)
    // rn order must agree with doc_freq order inside each language
    val disordered = out.as("a").join(out.as("b"),
        col("a.lang") === col("b.lang") && col("a.rn") < col("b.rn")
          && col("a.doc_freq") < col("b.doc_freq"))
    assert(disordered.isEmpty)
    out.unpersist()
  }

  test("q53: at most 5 terms per doc, tfidf non-increasing within a doc") {
    val out = TrainingData.q53Tfidf(spark, sf).cache()
    assert(out.groupBy("doc_id").agg(count(lit(1)).as("n")).filter(col("n") > 5).isEmpty)
    val disordered = out.as("a").join(out.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.rn") < col("b.rn")
          && col("a.tfidf") < col("b.tfidf"))
    assert(disordered.isEmpty)
    out.unpersist()
  }

  test("q58: funnel counts are monotone non-increasing per language and sum to the corpus") {
    val out = TrainingData.q58CurationFunnel(spark, sf).cache()
    val bad = out.filter(
      col("n_quality") > col("n_raw") ||
      col("n_deduped") > col("n_quality") ||
      col("n_sampled") > col("n_deduped"))
    assert(bad.isEmpty)
    assert(out.agg(sum(col("n_raw"))).head.getLong(0)
      === Tables.documents(spark, sf).count())
    out.unpersist()
  }

  test("q59: packs respect the budget at their start and chunks are conserved") {
    val out = TrainingData.q59SequencePacking(spark, sf).cache()
    val totalChunks = TrainingData.q56ChunkDocuments(spark, sf).count()
    assert(out.agg(sum(col("n_chunks"))).head.getLong(0) === totalChunks)
    // pack ids are contiguous from 0 within each language
    val gaps = out.groupBy("lang").agg(
      min(col("pack_id")).as("lo"), max(col("pack_id")).as("hi"),
      count(lit(1)).as("n"))
      .filter(col("lo") =!= 0L || col("n") =!= col("hi") + 1)
    assert(gaps.isEmpty, "pack ids must be dense per language")
    out.unpersist()
  }

  test("q54: pre-1970 timestamps bucket by floor — cross-epoch predecessors are found") {
    // synthetic events straddling the epoch, incl. exact hour multiples
    // and sub-hour gaps across the boundary; ts is raw nanos (the events
    // loader reads TIMESTAMP(NANOS) as long via nanosAsLong)
    val dir = java.nio.file.Files.createTempDirectory("graft_negts").toString
    import spark.implicits._
    val hourUs = 3600000000L
    val tsUs = Seq(-7200000000L, -3600000000L, -3599000000L, -1800000000L,
      -1000000L, 0L, 1000000L, 1800000000L, 3600000000L, 5400000000L)
    tsUs.zipWithIndex
      .map { case (t, i) => (i.toLong + 1, t * 1000L, 1L) } // one user: dense window hits
      .toDF("event_id", "ts", "user_id")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = TrainingData.q54RangeJoin(spark, dir)
      .select("event_id", "n_prev_1h").as[(Long, Long)].collect().toMap
    // oracle: count predecessors in [t-1h, t) per event, computed in Scala
    val byId = tsUs.zipWithIndex.map { case (t, i) => (i.toLong + 1, t) }
    val want = byId.map { case (id, t) =>
      id -> byId.count { case (_, p) => p >= t - hourUs && p < t }.toLong
    }.toMap
    assert(out === want)
  }

  test("q54: bucketed range join equals the brute-force non-equi join") {
    val out = TrainingData.q54RangeJoin(spark, sf)
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t"))
    val probe = ev.select(col("user_id").as("pu"), col("t").as("pt"))
    val brute = ev.join(probe,
        col("user_id") === col("pu")
          && col("pt") >= col("t") - 3600000000L && col("pt") < col("t"), "left")
      .groupBy(col("event_id")).agg(count(col("pu")).as("n_prev_1h"))
    val diff = out.select("event_id", "n_prev_1h").as("a")
      .join(brute.as("b"), "event_id")
      .filter(col("a.n_prev_1h") =!= col("b.n_prev_1h"))
    assert(diff.isEmpty)
  }

  test("q100: the capstone funnel is monotone and agrees with its component operators") {
    import graft.queries.TrainingData
    val rows = TrainingData.q100FullPipeline(spark, sf).collect()
    rows.foreach { r =>
      val (raw, q, d, c, s) = (r.getAs[Long]("n_raw"), r.getAs[Long]("n_quality"),
        r.getAs[Long]("n_deduped"), r.getAs[Long]("n_clean"), r.getAs[Long]("n_sampled"))
      assert(raw >= q && q >= d && d >= c && c >= s,
        s"funnel must be monotone per language: $r")
    }
    // stage 0 covers exactly the training split
    val trainN = Tables.documents(spark, sf).filter(col("doc_id") % 10 =!= 0).count()
    assert(rows.map(_.getAs[Long]("n_raw")).sum === trainN)
    // the decontamination stage can never drop more documents than q60 flags
    val q60n = TrainingData.q60Decontamination(spark, sf).count()
    val dropped = rows.map(r => r.getAs[Long]("n_deduped") - r.getAs[Long]("n_clean")).sum
    assert(dropped <= q60n,
      s"funnel drops $dropped as contaminated but q60 only flags $q60n")
  }

  test("q142: split boundaries hold, the embargo isolates the cutoff, and the ledger conserves") {
    val rows = TrainingData.q142TemporalSplit(spark, sf).collect()
      .map(r => r.getAs[String]("split") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("n_users"),
         r.getAs[Long]("first_us"), r.getAs[Long]("last_us"),
         r.getAs[Double]("share"))).toMap
    assert(rows.keySet === Set("train", "embargo_dropped", "test"),
      "all three sides must be populated on the fixture")
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val cutUs = java.time.LocalDateTime.parse(TrainingData.SplitCutoff, fmt)
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
    val embUs = cutUs + TrainingData.EmbargoDays * 86400L * 1000000L
    def side(us: Long) =
      if (us <= cutUs) "train" else if (us <= embUs) "embargo_dropped" else "test"
    // exact per-side recount
    val expect = evs.groupBy(e => side(e._2)).map { case (k, g) =>
      k -> (g.length.toLong, g.map(_._1).distinct.length.toLong,
        g.map(_._2).min, g.map(_._2).max)
    }
    expect.foreach { case (k, (n, u, lo, hi)) =>
      val (gn, gu, glo, ghi, _) = rows(k)
      assert((gn, gu, glo, ghi) === ((n, u, lo, hi)), s"side $k ledger diverged")
    }
    // boundary audit: train never crosses the cutoff, test never enters the embargo
    assert(rows("train")._4 <= cutUs)
    assert(rows("embargo_dropped")._3 > cutUs && rows("embargo_dropped")._4 <= embUs)
    assert(rows("test")._3 > embUs)
    // conservation
    assert(rows.values.map(_._1).sum === evs.length.toLong)
    assert(math.abs(rows.values.map(_._5).sum - 1.0) < 1e-5)
  }

  test("q189 ≡ sequential shard replay; shards contiguous, budget-filled, conserving") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").length.toLong))
      .sortBy(_._1)
    var cum = 0L
    val assign = docs.map { case (id, tc) =>
      val sh = cum / TrainingData.ShardTokenBudget; cum += tc; (sh, id, tc)
    }
    val expected = assign.groupBy(_._1).toSeq.sortBy(_._1).map { case (sh, g) =>
      (sh, g.size.toLong, g.map(_._3).sum, g.map(_._2).min, g.map(_._2).max) }
    val got = TrainingData.q189ShardPlan(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got === expected)
    // manifest invariants: shard ids contiguous from 0, id ranges
    // contiguous in ingestion order, token total conserved, and every
    // shard but the last fills its budget once its final doc lands
    assert(got.map(_._1) === got.indices.map(_.toLong))
    got.sliding(2).foreach { case Seq(a, b) => assert(a._5 < b._4); case _ => }
    assert(got.map(_._3).sum === docs.map(_._2).sum)
    val budget = TrainingData.ShardTokenBudget
    got.dropRight(1).zipWithIndex.foreach { case (sh, i) =>
      assert(got.take(i + 1).map(_._3).sum >= (i + 1) * budget,
        s"shard ${sh._1} closed before its cumulative budget") }
    assert(got.size > 1, "single shard — budget too large for the fixture")
  }

  test("q192 ≡ q189 row-identical (fold ≡ batch), reading the stored manifest") {
    val batch = TrainingData.q189ShardPlan(spark, sf).collect().map(_.toSeq).toSeq
    val fold = TrainingData.q192ShardIncrement(spark, sf)
    assert(fold.collect().map(_.toSeq).toSeq === batch)
    // the base half arrives from the DURABLE bucketed manifest table
    val p = fold.queryExecution.executedPlan.toString
    assert(p.contains("graft_shard_manifest_b"),
      s"stored manifest scan missing from the fold plan:\n$p")
    // non-vacuous: the delta batch is non-empty, and the straddling
    // shard genuinely merges contributions from both sides (unless the
    // base total happens to land exactly on a shard boundary)
    val thr = TrainingData.shardSplitAt(spark, sf)
    val deltaDocs = batch.count(r => r(3).asInstanceOf[Long] >= thr) // shards fully in delta
    assert(batch.exists(r => r(4).asInstanceOf[Long] >= thr), "no delta docs reached the plan")
    val baseManifest = TrainingData.storedShardManifest(spark, sf).collect()
    val baseTotal = baseManifest.map(_.getAs[Long]("n_tokens")).sum
    if (baseTotal % TrainingData.ShardTokenBudget != 0) {
      val straddle = baseTotal / TrainingData.ShardTokenBudget
      val row = batch.find(_.head.asInstanceOf[Long] == straddle).get
      val baseRow = baseManifest.find(_.getAs[Long]("shard_id") == straddle).get
      assert(row(1).asInstanceOf[Long] > baseRow.getAs[Long]("n_docs"),
        "straddling shard did not absorb delta docs")
    }
    // shards wholly in the delta: a real check, not documentation — the
    // fixture's delta is several budgets long, so at least one shard must
    // open at or after the split threshold (r16 ADVICE: the old
    // `deltaDocs >= 0` was vacuously true)
    val deltaTokens = batch.map(r => r(2).asInstanceOf[Long]).sum -
      baseManifest.map(_.getAs[Long]("n_tokens")).sum
    if (deltaTokens > 2 * TrainingData.ShardTokenBudget) {
      assert(deltaDocs > 0,
        s"delta carries $deltaTokens tokens (> 2 budgets) but no shard opens inside it")
    } else {
      assert(deltaDocs >= 0) // tiny delta: wholly-in-delta shards may legitimately not exist
    }
  }

  test("q194 ≡ plain-Scala cascade replay; the semantic leg is non-vacuous") {
    val n = TrainingData.DecontamN
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").toSeq))
    def grams(w: Seq[String]): Set[String] =
      if (w.size < n) Set.empty else w.sliding(n).map(_.mkString(" ")).toSet
    val evalGrams = docs.filter(_._1 % 10 == 0).flatMap(d => grams(d._2)).toSet
    val direct = docs.filter(d => d._1 % 10 != 0 && grams(d._2).exists(evalGrams))
      .map(_._1).toSet
    val vecs = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Long, b: Long): Double = {
      val (x, y) = (vecs(a), vecs(b))
      var d = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- x.indices) { d += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i) }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    val ids = vecs.keys.toSeq.sorted
    val pairs = for { i <- ids; j <- ids if i < j && cos(i, j) >= graft.queries.Clustering.DbscanEps }
      yield (i, j)
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1).map { case (k, g) => k -> g.map(_._2) }
    val semantic = ids.filter(b => b % 10 != 0 && !direct(b)
        && adj.get(b).exists(_.exists(direct)))
      .map(b => (b, adj(b).filter(direct).min))
    val expected = (direct.toSeq.map(d => (d, "direct", d))
      ++ semantic.map { case (b, via) => (b, "semantic", via) }).sortBy(_._1)
    val got = TrainingData.q194ContamCascade(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === expected)
    assert(direct.nonEmpty, "no direct hits — fixture degenerate")
    assert(semantic.nonEmpty,
      "no semantic clones — the cascade leg is vacuous on this fixture")
  }
}
