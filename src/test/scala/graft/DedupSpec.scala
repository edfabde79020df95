package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.queries.Dedup

/** Invariants of the dedup operators beyond the DuckDB oracle: the prefix
  * filter's exactness (≡ the un-filtered inverted-index join), its skew
  * bound (a corpus-wide viral shingle generates zero candidates), the
  * empty-graph edge case of the component loop, and the q45/q58 label
  * sharing.
  */
class DedupSpec extends SparkTestBase {

  /** Write a documents.parquet with the real table's schema into a fresh
    * temp dir, so the (SparkSession, dir)-keyed code paths (incl. the q45
    * label memo) see an isolated corpus.
    */
  private def docsDir(texts: Seq[String]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dedup").toString
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong + 1, t, "en", s"src${i % 3}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q22: prefix-filtered join ≡ un-filtered inverted-index join on the fixture") {
    val d = Tables.documents(spark, sf)
    val ex = d.select(col("doc_id"),
      explode(TextFns.shingles(TextFns.words(col("text")), 3)).as("shingle")).distinct()
    val sz = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val naive = ex.as("a").join(ex.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("jacc_raw", col("inter").cast("double")
        / (col("sa.n") + col("sb.n") - col("inter")).cast("double"))
      .filter(col("jacc_raw") >= Dedup.JaccardT)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        round(col("jacc_raw"), 6).as("jaccard"))
    assert(Dedup.q22NgramJaccard(spark, sf).collect().toSet === naive.collect().toSet)
  }

  test("q22 skew: a shingle present in EVERY doc generates no candidate pairs") {
    // 10 docs sharing exactly one viral 3-shingle ("v1 v2 v3") plus a
    // unique tail each (J = 1/15 pairwise), and one true duplicate pair
    val unique = (1 to 10).map(i =>
      s"v1 v2 v3 u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g")
    val dup = "v1 v2 v3 z1 z2 z3 z4 z5 z6 z7"
    val dir = docsDir(unique ++ Seq(dup, dup)) // doc_ids 11 and 12
    val ex = Tables.documents(spark, dir).select(col("doc_id"),
      explode(TextFns.shingles(TextFns.words(col("text")), 3)).as("shingle")).distinct()
    val pref = Dedup.jaccardPrefix(ex).cache()
    // the viral shingle has maximal df ⇒ sorts last in the rarest-first
    // order ⇒ falls outside every 8-shingle doc's 5-element prefix
    assert(pref.filter(col("shingle") === "v1 v2 v3").count() === 0)
    // candidate pairs collapse from the naive C(12,2)=66 to exactly the
    // duplicate pair — the df² skew blow-up is structurally gone
    val cand = pref.as("a").join(pref.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().collect()
    assert(cand.toSeq.map(r => (r.getLong(0), r.getLong(1))) === Seq((11L, 12L)))
    pref.unpersist()
    // and the query's answer on the skewed corpus is exactly that pair
    val out = Dedup.q22NgramJaccard(spark, dir).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      === Seq((11L, 12L, 8L, 1.0)))
  }

  test("q45: an empty near-dup graph yields empty labels, not an NPE") {
    // pairwise-disjoint vocabularies ⇒ q22 finds zero pairs
    val dir = docsDir((1 to 5).map(i => s"a${i}1 a${i}2 a${i}3 a${i}4 a${i}5"))
    val out = Dedup.q45DedupComponents(spark, dir)
    assert(out.columns.toSeq === Seq("doc", "comp"))
    assert(out.count() === 0)
  }

  test("clearMemos reaches memos owned by other objects (registry wiring)") {
    // The shared gram surfaces live in TrainingData/CorpusStats and the
    // PCA stats in Clustering, but all must honor Dedup.clearMemos'
    // snapshot contract: same value back while memoized, a fresh value
    // after a clear. `eq` is the right check — memoization is object
    // identity, not value equality.
    import graft.queries.{Clustering, CorpusStats, TrainingData}
    val dir = docsDir(Seq(
      "alpha beta gamma delta epsilon zeta eta",
      "alpha beta gamma delta epsilon zeta theta"))
    val dg = TrainingData.docGrams(spark, dir)
    assert(TrainingData.docGrams(spark, dir) eq dg)
    val sg = CorpusStats.sourceGrams(spark, dir)
    assert(CorpusStats.sourceGrams(spark, dir) eq sg)
    val pca = Clustering.pcaStats(spark, sf)
    assert(Clustering.pcaStats(spark, sf) eq pca)
    Dedup.clearMemos()
    assert(!(TrainingData.docGrams(spark, dir) eq dg),
      "clearMemos must evict TrainingData's gram memo")
    assert(!(CorpusStats.sourceGrams(spark, dir) eq sg),
      "clearMemos must evict CorpusStats' gram memo")
    val n0 = Dedup.memoBuildCount
    assert(!(Clustering.pcaStats(spark, sf) eq pca),
      "clearMemos must evict Clustering's PCA stats")
    assert(Dedup.memoBuildsSince(n0).map(_._1).contains("pca_stats"),
      "the PCA stats build must be logged as a memo line item")
  }

  test("Memo: concurrent first access runs the compute exactly once") {
    // TrieMap.getOrElseUpdate evaluates its by-name default BEFORE the
    // atomic install, so without the lazy cell two racing threads would
    // BOTH run an eager-checkpoint compute (stranding the loser's RDD
    // blocks). All threads are released simultaneously through a latch to
    // maximize the race window on the first access.
    import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
    import spark.implicits._
    val computes = new java.util.concurrent.atomic.AtomicInteger(0)
    val memo = new Dedup.Memo[org.apache.spark.sql.DataFrame]("race_test")((_, _) => {
      computes.incrementAndGet()
      Thread.sleep(100) // widen the window a racing compute would hit
      Seq(1L).toDF("x")
    })
    val start = new CountDownLatch(1)
    val threads = 8
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futures = (1 to threads).map { _ =>
        pool.submit(new Callable[org.apache.spark.sql.DataFrame] {
          def call(): org.apache.spark.sql.DataFrame = {
            start.await(30, TimeUnit.SECONDS)
            memo(spark, "race-dir")
          }
        })
      }
      start.countDown()
      val results = futures.map(_.get(60, TimeUnit.SECONDS))
      assert(computes.get() === 1,
        s"compute ran ${computes.get()} times under concurrent first access")
      assert(results.forall(_ eq results.head),
        "racing callers must observe the same memoized frame")
    } finally pool.shutdown()
  }

  test("q45/q58 share one component computation per (session, dir)") {
    assert(Dedup.componentLabels(spark, sf) eq Dedup.componentLabels(spark, sf))
    // and the labels are a fixpoint: every comp is the min id of its
    // component, i.e. re-propagating changes nothing
    val labels = Dedup.componentLabels(spark, sf)
    val pairs = Dedup.q22NgramJaccard(spark, sf).select(col("doc_a"), col("doc_b"))
    val edges = pairs.union(pairs.select(col("doc_b"), col("doc_a")).toDF("doc_a", "doc_b"))
    val viaN = edges.join(labels, col("doc_a") === col("doc"))
      .select(col("doc_b").as("doc"), col("comp"))
    val re = labels.select(col("doc"), col("comp")).union(viaN)
      .groupBy(col("doc")).agg(min(col("comp")).as("comp"))
    assert(re.exceptAll(labels).isEmpty && labels.exceptAll(re).isEmpty)
  }

  test("q97: pagerank conserves probability mass over exactly the near-dup nodes") {
    val pr = Dedup.q97PageRank(spark, sf).collect()
    // node set == nodes of the q22 pair graph
    val pairs = Dedup.q22NgramJaccard(spark, sf).select(col("doc_a"), col("doc_b"))
    val nodes = pairs.select(col("doc_a").as("d"))
      .union(pairs.select(col("doc_b").as("d"))).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(pr.map(_.getAs[Long]("doc")).toSet === nodes)
    // an undirected graph has no dangling nodes, so the damped power
    // iteration preserves total mass exactly
    val mass = pr.map(_.getAs[Double]("pagerank")).sum
    assert(math.abs(mass - 1.0) < 1e-4, s"pagerank mass $mass drifted from 1")
    // the damping floor bounds every rank from below
    val floorPr = (1.0 - Dedup.PrDamping) / nodes.size
    assert(pr.forall(_.getAs[Double]("pagerank") >= floorPr - 1e-9))
  }

  test("q108: incremental ingest equals q23's full run restricted to delta-base pairs") {
    def isDelta(id: Long): Boolean = id % 10 == 3
    val out = Dedup.q108IncrementalDedup(spark, sf).cache()
    // delta anchoring: exactly one verdict row per delta document
    val deltaIds = Tables.documents(spark, sf).select("doc_id").collect()
      .map(_.getLong(0)).filter(isDelta).toSet
    val outIds = out.collect().map(_.getAs[Long]("doc_id"))
    assert(outIds.length === deltaIds.size && outIds.toSet === deltaIds)
    // the probe-vs-index shortcut provably loses nothing: its dup set
    // equals the full q23 pair list filtered to (delta, base) pairs —
    // both use the same bands, so candidates and verification coincide
    val expectDup = Dedup.q23MinHashLsh(spark, sf).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) =>
        (if (isDelta(a) && !isDelta(b)) Seq(a) else Nil) ++
          (if (isDelta(b) && !isDelta(a)) Seq(b) else Nil)
      }.toSet
    val gotDup = out.filter(col("verdict") === "dup")
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(gotDup === expectDup)
    // verdict/columns consistency: dup ⟺ matches > 0 ⟺ best_jaccard present
    assert(out.filter((col("verdict") === "dup") =!= (col("n_base_matches") > 0)).isEmpty)
    assert(out.filter((col("verdict") === "dup") =!= col("best_jaccard").isNotNull).isEmpty)
    out.unpersist()
  }

  test("q119: per-node triangle counts match an in-memory brute-force recount") {
    val out = Dedup.q119Triangles(spark, sf).collect()
    val edges = Dedup.q22NgramJaccard(spark, sf).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edgeSet = edges.toSet
    // brute-force ground truth on the (small) fixture pair list
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val triCount = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      (a, b) <- edges
      (b2, c) <- edges if b2 == b && edgeSet.contains((a, c))
    } { triCount(a) += 1; triCount(b) += 1; triCount(c) += 1 }
    val degree = edges.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(out.map(_.getAs[Long]("doc")).toSeq === nodes.toSeq,
      "one report row per graph node, in order")
    out.foreach { r =>
      val d = r.getAs[Long]("doc")
      assert(r.getAs[Long]("degree") === degree(d), s"degree mismatch at $d")
      assert(r.getAs[Long]("n_tri") === triCount(d), s"triangle count mismatch at $d")
      val cl = Option(r.getAs[java.lang.Double]("clustering")).map(_.doubleValue)
      if (degree(d) >= 2) {
        val expect = 2.0 * triCount(d) / (degree(d) * (degree(d) - 1.0))
        assert(math.abs(cl.get - expect) < 1e-6, s"clustering mismatch at $d")
        assert(cl.get >= 0.0 && cl.get <= 1.0 + 1e-9)
      } else assert(cl.isEmpty, s"degree-1 node $d must have NULL clustering")
    }
    // a triangle exists on the fixture, else the test proves nothing
    assert(triCount.values.sum > 0, "fixture graph has no triangles")
  }

  test("q121: incremental fold ≡ from-scratch labels on the real corpus") {
    val fold = Dedup.q121StateFold(spark, sf).collect()
    val full = Dedup.q45DedupComponents(spark, sf).collect()
      .map(r => r.getAs[Long]("doc") -> r.getAs[Long]("comp")).toMap
    // same node set, same labels as the from-scratch full-graph run
    assert(fold.map(_.getAs[Long]("doc")).toSet === full.keySet)
    fold.foreach { r =>
      val doc = r.getAs[Long]("doc")
      assert(r.getAs[Long]("comp") === full(doc), s"label diverged at doc $doc")
      assert((r.getAs[String]("origin") == "delta") === (doc % 10 == 3), s"origin at $doc")
      assert(r.getAs[Boolean]("is_keeper") === (doc == full(doc)), s"keeper at $doc")
    }
    // exactly one keeper per component, and delta docs are always 'new'
    fold.groupBy(_.getAs[Long]("comp")).foreach { case (c, rows) =>
      assert(rows.count(_.getAs[Boolean]("is_keeper")) === 1, s"keepers in comp $c")
    }
    assert(fold.filter(_.getAs[String]("origin") == "delta")
      .forall(_.getAs[String]("status") == "new"))
    assert(fold.exists(_.getAs[String]("origin") == "delta"),
      "fixture has no delta docs in the graph — the fold is vacuous")
  }

  test("q121: a delta bridge merges two base components (relabel path)") {
    // Shingle-set arithmetic (3-grams of whitespace words):
    //   A = sh("a1 a2 a3 a4") = {a1a2a3, a2a3a4}
    //   T2 = "a1 a2 a3 a4 a1 a2 a3 a4"  → A ∪ {a3a4a1, a4a1a2}   (|sh|=4)
    //   T4 = "c1 a1 a2 a3 a4 c2"        → A ∪ {c1a1a2, a3a4c2}   (|sh|=4)
    // J(bridge, T2) = J(bridge, T4) = 2/4 = 0.5 (at threshold), while
    // J(T2, T4) = 2/6 < 0.5 — so the two base comps are connected ONLY
    // through the delta bridge (doc 3). Doc 13 duplicates base singleton
    // doc 6, pulling it into the graph as 'new'.
    val t2 = "a1 a2 a3 a4 a1 a2 a3 a4"
    val t4 = "c1 a1 a2 a3 a4 c2"
    val tz = "z1 z2 z3 z4 z5"
    val filler = (7 to 12).map(i => s"f${i}a f${i}b f${i}c")
    val dir = docsDir(Seq(t2, t2, "a1 a2 a3 a4", t4, t4, tz) ++ filler :+ tz)
    val out = Dedup.q121StateFold(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc"), r.getAs[Long]("comp"),
        r.getAs[String]("origin"), r.getAs[String]("status"),
        r.getAs[Boolean]("is_keeper")))
    assert(out.toSeq === Seq(
      (1L, 1L, "base", "unchanged", true),
      (2L, 1L, "base", "unchanged", false),
      (3L, 1L, "delta", "new", false),
      (4L, 1L, "base", "relabeled", false),
      (5L, 1L, "base", "relabeled", false),
      (6L, 6L, "base", "new", true),
      (13L, 6L, "delta", "new", false)))
  }

  test("q126: retiring a bridge doc SPLITS its component; all four status paths fire") {
    // Same shingle arithmetic as the q121 bridge test, with the bridge at
    // doc 7 (the retired slot): pre-retirement {1,2,4,5,7} is ONE
    // component under label 1; retiring 7 splits it into {1,2} (label
    // kept → reconverged) and {4,5} (new min → relabeled). {6,8} has no
    // retired member → untouched. Doc 7 itself leaves the graph.
    val t2 = "a1 a2 a3 a4 a1 a2 a3 a4"
    val t4 = "c1 a1 a2 a3 a4 c2"
    val tz = "z1 z2 z3 z4 z5"
    val dir = docsDir(Seq(t2, t2, "f3a f3b f3c", t4, t4, tz, "a1 a2 a3 a4", tz))
    val out = Dedup.q126Retire(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc"), r.getAs[Long]("comp"),
        r.getAs[String]("status"), r.getAs[Boolean]("is_keeper")))
    assert(out.toSeq === Seq(
      (1L, 1L, "reconverged", true),
      (2L, 1L, "reconverged", false),
      (4L, 4L, "relabeled", true),
      (5L, 4L, "relabeled", false),
      (6L, 6L, "untouched", true),
      (8L, 6L, "untouched", false)))
  }

  test("q126/q127: both agree with an in-memory recompute over the real pair graph") {
    val pairs = Dedup.q22NgramJaccard(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // union-find ground truth for the post-retirement graph
    def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    val survivors = pairs.collect {
      case (a, b, _) if a % 10 != 7 && b % 10 != 7 => (a, b)
    }.toSeq
    val expect = components(survivors)
    val got = Dedup.q126Retire(spark, sf).collect()
      .map(r => r.getAs[Long]("doc") -> r.getAs[Long]("comp")).toMap
    assert(got === expect, "q126 labels diverge from the union-find ground truth")
    // q127 per-component aggregates vs a direct recount on the full graph
    val full = components(pairs.map(p => (p._1, p._2)).toSeq)
    val prof = Dedup.q127ClusterProfile(spark, sf).collect()
    assert(prof.map(_.getAs[Long]("comp")).toSet === full.values.toSet)
    prof.foreach { r =>
      val c = r.getAs[Long]("comp")
      val members = full.collect { case (d, cc) if cc == c => d }.toSet
      val es = pairs.filter(p => full(p._1) == c)
      assert(r.getAs[Long]("n_docs") === members.size.toLong)
      assert(r.getAs[Long]("n_edges") === es.length.toLong)
      val dens = 2.0 * es.length / (members.size.toDouble * (members.size - 1))
      assert(math.abs(r.getAs[Double]("density") - dens) < 1e-6)
      assert(math.abs(r.getAs[Double]("mean_jaccard") - es.map(_._3).sum / es.length) < 1e-5)
      assert(r.getAs[Double]("min_jaccard") === es.map(_._3).min)
      assert(r.getAs[Double]("density") <= 1.0 + 1e-9)
    }
  }

  test("q154: containment equals the brute-force ordered-pair set and is genuinely asymmetric") {
    import org.apache.spark.sql.functions._
    val sets = Tables.documents(spark, sf).select(col("doc_id"),
        explode(TextFns.shingles(TextFns.words(col("text")), 3)).as("shingle")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (id, g) => id -> g.map(_._2).toSet }
    // brute force over every ordered pair sharing at least one shingle
    val expect = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
      if a != b
      inter = (sa & sb).size
      if inter > 0 && inter.toDouble / sa.size >= graft.queries.Dedup.ContainT
    } yield (a, b) -> (sa.size.toLong, inter.toLong)).toMap
    val got = graft.queries.Dedup.q154Containment(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[Long]("n_a"), r.getAs[Long]("inter"))).toMap
    assert(got.keySet === expect.keySet,
      "prefix-filtered candidates missed (or invented) a qualifying ordered pair")
    got.foreach { case (k, v) => assert(v === expect(k), s"$k overlap diverged") }
    // The measure's reason to exist — one-directional subset pairs — has
    // no witness in the synthetic corpus (its near-dups are same-sized),
    // so prove it on a purpose-built excerpt fixture: doc 2 is a verbatim
    // prefix of doc 1, doc 3 is unrelated. Expect exactly (2 ⊂ 1) at
    // containment 1.0, with the reverse direction BELOW threshold (its
    // Jaccard 4/10 would also have missed it — the asymmetry is real).
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_contain").toString
    val big = (1 to 12).map(i => s"w$i").mkString(" ")
    val excerpt = (1 to 6).map(i => s"w$i").mkString(" ")
    Seq((1L, big), (2L, excerpt), (3L, "x1 x2 x3 x4 x5"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fx = graft.queries.Dedup.q154Containment(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("containment")).toMap
    assert(fx.keySet === Set((2L, 1L)), s"expected only the excerpt pair, got ${fx.keySet}")
    assert(fx((2L, 1L)) === 1.0, "a verbatim prefix must be fully contained")
  }

  test("q159 dup spans: hand-computed coverage on a purpose-built fixture") {
    // doc 1: a 10-token passage (p1..p10) + unique tail (u1..u4)
    // doc 2: the same passage + different tail (v1..v4) — cross-doc dup
    // doc 3: internal repetition: an 8-gram (r1..r8) occurring twice
    // doc 4: all unique — zero coverage
    val passage = (1 to 10).map(i => s"p$i").mkString(" ")
    val rep = (1 to 8).map(i => s"r$i").mkString(" ")
    val dir = docsDir(Seq(
      s"$passage u1 u2 u3 u4",
      s"$passage v1 v2 v3 v4",
      s"$rep x1 $rep",
      (1 to 16).map(i => s"q$i").mkString(" ")))
    val out = Dedup.q159DupSpans(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("dup_grams"),
          r.getAs[Long]("covered_tokens"), r.getAs[Double]("dup_frac")))).toMap
    // docs 1/2: the shared 10-token passage yields 3 duplicated 8-grams
    // (positions 1..3), union [1, 11) = 10 covered tokens of 14
    assert(out(1L) === ((14L, 3L, 10L, 0.714286)))
    assert(out(2L) === ((14L, 3L, 10L, 0.714286)))
    // doc 3: 17 tokens, the 8-gram at positions 1 and 10 (occ 2 within
    // one doc counts), union [1,9)∪[10,18) = 16 covered
    assert(out(3L) === ((17L, 2L, 16L, 0.941176)))
    // doc 4: nothing repeats
    assert(out(4L) === ((16L, 0L, 0L, 0.0)))
  }

  test("q158 df-cap: subset of q22, retention theorem holds, buckets bounded") {
    import graft.queries.Dedup
    val full = Dedup.q22NgramJaccard(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val capped = Dedup.q158JaccardDfCap(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // the cap only ever DROPS pairs
    assert(capped.subsetOf(full), s"cap invented pairs: ${capped -- full}")
    // retention theorem: every q22 pair whose rarest COMMON shingle has
    // df <= cap must survive the cap (recomputed from first principles)
    val ex = Tables.documents(spark, sf).select(col("doc_id"),
      explode(TextFns.shingles(TextFns.words(col("text")), 3)).as("s")).distinct()
    val dfq = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val minDf = ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .join(dfq.withColumnRenamed("s", "dfs"), col("a.s") === col("dfs"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(min(col("df")).as("min_df"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val mustKeep = full.filter(p => minDf(p) <= Dedup.JaccardDfCap)
    assert(mustKeep.subsetOf(capped),
      s"retention theorem violated for ${mustKeep -- capped}")
    assert(mustKeep.nonEmpty, "cap retains nothing at this sf — test proves nothing")
    // the knob's raison d'etre: every capped index bucket is <= cap rows
    // (df <= cap implies at most cap docs index the shingle)
    val cappedIdx = ex.join(dfq.filter(col("df") <= Dedup.JaccardDfCap).select(col("s"), col("df")), Seq("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("bucket"))
      .agg(max(col("bucket"))).collect()(0).getLong(0)
    assert(cappedIdx <= Dedup.JaccardDfCap)
  }

  test("q206 containment df-cap: subset of q154, retention theorem holds, buckets bounded") {
    import graft.queries.Dedup
    val full = Dedup.q154Containment(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val capped = Dedup.q206ContainmentDfCap(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // the cap only ever DROPS ordered pairs
    assert(capped.subsetOf(full), s"cap invented pairs: ${capped -- full}")
    // retention theorem (the containment variant of q158's): a qualifying
    // pair's RAREST common shingle provably sits in the contained doc's
    // prefix, so every q154 pair whose rarest common shingle has df <= cap
    // must survive the capped index (recomputed from first principles)
    val ex = Tables.documents(spark, sf).select(col("doc_id"),
      explode(TextFns.shingles(TextFns.words(col("text")), 3)).as("s")).distinct()
    val dfq = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val minDf = ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
      .join(dfq.withColumnRenamed("s", "dfs"), col("a.s") === col("dfs"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(min(col("df")).as("min_df"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val mustKeep = full.filter(p => minDf(p) <= Dedup.ContainDfCap)
    assert(mustKeep.subsetOf(capped),
      s"retention theorem violated for ${mustKeep -- capped}")
    assert(mustKeep.nonEmpty, "cap retains nothing at this sf — test proves nothing")
    // the knob's raison d'etre: every capped container-index bucket is
    // <= cap rows at ANY corpus scale (df <= cap bounds the bucket)
    val cappedIdx = ex.join(dfq.filter(col("df") <= Dedup.ContainDfCap)
        .select(col("s"), col("df")), Seq("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("bucket"))
      .agg(max(col("bucket"))).collect()(0).getLong(0)
    assert(cappedIdx <= Dedup.ContainDfCap)
    // the excerpt fixture from the q154 test: its shingle dfs are all
    // <= cap, so the capped join must reproduce the uncapped result
    // exactly — including the one-directional (2 contained-in 1) pair
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_contain_cap").toString
    val big = (1 to 12).map(i => s"w$i").mkString(" ")
    val excerpt = (1 to 6).map(i => s"w$i").mkString(" ")
    Seq((1L, big), (2L, excerpt), (3L, "x1 x2 x3 x4 x5"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fx = Dedup.q206ContainmentDfCap(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("containment")).toMap
    assert(fx.keySet === Set((2L, 1L)), s"expected only the excerpt pair, got ${fx.keySet}")
    assert(fx((2L, 1L)) === 1.0)
  }

  test("q24 geometry ladder: every block count is a lossless candidate generator") {
    import graft.functions.HashConsts._
    // pigeonhole property, exhaustively over deterministic pseudo-random
    // signature pairs at every hamming distance 0..MaxHamming: a pair
    // within threshold must share at least one masked table key at EVERY
    // ladder step (this is the theorem that lets the geometry adapt
    // without touching results — a miss here means lost pairs at scale)
    val rnd = new scala.util.Random(42)
    val full = (1L << SimHashBits) - 1
    for (m <- SimHashBlockChoices; trial <- 1 to 200) {
      val a = rnd.nextLong() & full
      val ham = trial % (SimHashMaxHamming + 1)
      // flip `ham` DISTINCT bit positions
      val positions = rnd.shuffle((0 until SimHashBits).toList).take(ham)
      val b = positions.foldLeft(a)((acc, p) => acc ^ (1L << p))
      val masks = simHashTableMasks(m)
      assert(masks.size === (m * (m - 1) * (m - 2)) / 6)
      assert(masks.exists(k => (a & k) == (b & k)),
        s"m=$m hamming=$ham pair lost by every table")
    }
    // ladder-choice sanity: the gate corpora stay on the 4-block plan,
    // the 10x corpus steps to 6 blocks, web scale to the widest key
    assert(simHashBlocks(5000) === 4)
    assert(simHashBlocks(50000) === 6)
    assert(simHashBlocks(100L * 1000 * 1000 * 1000) === 12)
  }

  test("q24: verified pair set is identical at every geometry ladder step") {
    // the end-to-end guarantee on real data: candidates differ per
    // geometry, the verified output must not
    val expected = Dedup.q24SimHashWithBlocks(spark, sf, 4).collect().toSeq
    for (m <- Seq(6, 8, 12)) {
      val got = Dedup.q24SimHashWithBlocks(spark, sf, m).collect().toSeq
      assert(got === expected, s"pair set changed at m=$m")
    }
  }

  test("q166: fuzzy linkage equals a brute-force replay over collapsed surface forms") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val parts = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_name"), col("p_size")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getString(1).trim.split("\\s+").last))
    // phase 1 replay: collapse identical (block, size, name) forms
    val forms = parts.groupBy(p => (p._4, p._3, p._2)).map { case ((b, sz, n), g) =>
      (b, sz, n, g.length.toLong, g.map(_._1).min)
    }.toSeq
    // phases 2+3 replay: block on (category word, size), verify distance
    val expect = (for {
      (b1, s1, n1, m1, k1) <- forms
      (b2, s2, n2, m2, k2) <- forms
      if b1 == b2 && s1 == s2 && n1 < n2
      d = lev(n1, n2) if d <= Dedup.FuzzyMaxDist
    } yield (s1, n1, n2, m1, m2, k1, k2, d.toLong)).toSet
    val got = Dedup.q166FuzzyJoin(spark, sf).collect().map(r =>
      (r.getAs[Int]("sz"), r.getAs[String]("n1"), r.getAs[String]("n2"),
        r.getAs[Long]("m1"), r.getAs[Long]("m2"),
        r.getAs[Long]("k1"), r.getAs[Long]("k2"), r.getAs[Long]("dist"))).toSet
    assert(got === expect)
    assert(got.nonEmpty, "fixture catalog must contain name-variant pairs")
    // the collapse makes every linked pair a genuine NEAR match (identical
    // forms were reduced first — they are q21's output, not linkage), and
    // the output is bounded by the surface-form vocabulary, not by rows
    got.foreach { case (_, n1, n2, m1, m2, _, _, d) =>
      assert(d >= 1L && d <= Dedup.FuzzyMaxDist.toLong, s"'$n1'~'$n2' dist $d out of band")
      assert(m1 >= 1L && m2 >= 1L)
    }
    val nForms = forms.length.toLong
    assert(got.size.toLong <= nForms * (nForms - 1) / 2)
  }

  test("q167: multi-pass blocking replays exactly, contains q166, and catches a noun-typo pair q166 loses") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val forms = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_name"), col("p_size")).collect()
      .map(r => (r.getString(1), r.getInt(2)))
      .groupBy(identity).map { case ((n, sz), g) =>
        val toks = n.trim.split("\\s+")
        (toks.head, toks.last, sz, n, g.length.toLong)
      }.toSeq
    def passPairs(key: ((String, String, Int, String, Long)) => (String, Int)) =
      (for {
        x @ (_, _, s1, n1, m1) <- forms
        y @ (_, _, s2, n2, m2) <- forms
        if key(x) == key(y) && n1 < n2
        d = lev(n1, n2) if d <= Dedup.FuzzyMaxDist
      } yield ((s1, n1, n2), (m1, m2, d.toLong))).toMap
    val byNoun = passPairs { case (_, noun, sz, _, _) => (noun, sz) }
    val byAdj = passPairs { case (adj, _, sz, _, _) => (adj, sz) }
    val expect = (byNoun.keySet ++ byAdj.keySet).map { k =>
      val (m1, m2, d) = byNoun.getOrElse(k, byAdj(k))
      (k._1, k._2, k._3, m1, m2, d, byNoun.contains(k), byAdj.contains(k))
    }
    val got = Dedup.q167MultiBlock(spark, sf).collect().map(r =>
      (r.getAs[Int]("sz"), r.getAs[String]("n1"), r.getAs[String]("n2"),
        r.getAs[Long]("m1"), r.getAs[Long]("m2"), r.getAs[Long]("dist"),
        r.getAs[Boolean]("by_noun"), r.getAs[Boolean]("by_adj"))).toSet
    assert(got === expect)
    // the union can only ADD to the single-pass q166 (pass A ≡ q166's key)
    val q166Keys = Dedup.q166FuzzyJoin(spark, sf).collect()
      .map(r => (r.getAs[Int]("sz"), r.getAs[String]("n1"), r.getAs[String]("n2"))).toSet
    val gotKeys = got.map(g => (g._1, g._2, g._3))
    assert(q166Keys.subsetOf(gotKeys), "multi-pass must contain the single-pass result")
    // the reason the pass exists: a pair whose NOUN carries the typo is
    // invisible to q166's noun block but caught by the adjective block
    assert(got.exists(g => g._8 && !g._7),
      "fixture must contain an adjective-block-only pair (noun-typo recall gain)")
  }
}
