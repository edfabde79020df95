package graft.queries

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.TextFns._
import graft.functions.HashConsts._

/** Deduplication operators over `documents` (SURVEY.md §2.4 LLM-pipeline
  * row): exact, n-gram Jaccard similarity join, MinHash+LSH, SimHash.
  *
  * Scale design (the whole point of these over naive pairwise):
  *   - NOTHING here cross-joins the corpus. Candidate pairs come from
  *     inverted-index / band-bucket equi-joins, which Spark executes as
  *     ordinary shuffle joins partitioned by the index key — at 100 TB the
  *     candidate set, not n², bounds the work.
  *   - Signatures (shingle sets, MinHash, SimHash) are computed in one
  *     map-only pass (Catalyst higher-order functions, no UDFs).
  *   - The Jaccard join (q22) indexes only each document's rarest-first
  *     PREFIX (All-Pairs/PPJoin prefix filtering), so one viral shingle
  *     cannot quadratically blow a single index key's bucket; the
  *     band-bucket plans (q23/q24) control join fan-out with band width,
  *     the standard production knob.
  *
  * Every constant is shared with the DuckDB oracle via
  * [[graft.functions.HashConsts]]; every hash bottoms out in md5, which
  * both engines compute identically.
  */
object Dedup {

  /** q21: exact deduplication. Input is the corpus unioned with itself
    * (every text has ≥2 copies) so the operator has real work; the plan is
    * a hash aggregate on the full row — Spark's `dropDuplicates` over all
    * columns, which partial-aggregates map-side before the shuffle.
    */
  def q21DedupExact(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    d.union(d).dropDuplicates().orderBy(col("doc_id"))
  }

  val q21Sql: String =
    """SELECT DISTINCT * FROM (
      |  SELECT * FROM documents UNION ALL SELECT * FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Distinct (doc_id, shingle) rows on the codegen path: explode +
    * hash-aggregate dedup (NOT `array_distinct`, which is interpreted and
    * quadratic per doc). This is the inverted-index base for q22/q23.
    * The scan is re-split ([[graft.Tables.resplit]]) so shingle
    * construction parallelizes even when the source arrives as one split.
    */
  private def shingleRows(s: SparkSession, dir: String): DataFrame =
    resplit(documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(shingles(words(col("text")), 3)).as("shingle"))
      .distinct()

  /** Jaccard threshold for the q22 near-dup join. */
  val JaccardT: Double = 0.5

  /** Per-doc shingle sets in the global rarest-first order (document
    * frequency ASC, shingle ASC): (doc_id, ord: array<struct<df,shingle>>,
    * n). Document frequency is a hash-aggregate (map-side partials) joined
    * back on the shingle; the per-doc order is a `sort_array` over each
    * doc's own (tiny) set inside one hash-aggregate — no window sort of
    * the whole index. One frame serves BOTH the prefix index and the
    * exact-verify sets in [[q22Fresh]].
    */
  private def orderedSets(ex: DataFrame): DataFrame = {
    val dfreq = ex.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    ex.join(dfreq, "shingle")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("shingle")))).as("ord"))
      .withColumn("n", size(col("ord")).cast("long"))
  }

  /** Prefix-filtered index rows: of each doc's distinct shingles in the
    * global rarest-first order, keep only the first n − ⌈t·n⌉ + 1.
    * Package-visible so the skew test can pin the candidate bound.
    */
  private[graft] def jaccardPrefix(ex: DataFrame): DataFrame =
    jaccardPrefixOf(orderedSets(ex))

  /** Document-frequency cap for the INDEXED prefix (the q158 knob): with
    * cap C, a prefix shingle is indexed only if its df ≤ C, so every
    * index bucket holds ≤ C rows — per-shingle join fan-out is bounded by
    * a CONSTANT at any corpus scale, where the uncapped prefix index only
    * bounds it by the prefix-position distribution. The price is a
    * DECLARED approximation with an exact retention theorem: a pair with
    * J ≥ t is found iff some common shingle lies in both docs' prefixes
    * AND has df ≤ C; since the PPJoin prefix theorem puts the pair's
    * RAREST common shingle in both prefixes, every pair whose rarest
    * common shingle has df ≤ C is retained (pinned by DedupSpec) — only
    * pairs ALL of whose common shingles are viral can be lost, exactly
    * the boilerplate-only matches a capped production index means to
    * shed. The demo cap is deliberately small so the approximation path
    * is exercised at the gate corpora; the oracle embeds the same cap.
    */
  val JaccardDfCap: Long = 3L

  private def jaccardPrefixOf(ordered: DataFrame,
      dfCap: Long = Long.MaxValue): DataFrame = {
    val p = (col("n") - ceil(col("n") * JaccardT) + 1).cast("int")
    val pref = ordered.select(col("doc_id"),
      explode(slice(col("ord"), lit(1), p)).as("e"))
    // cap applies AFTER the prefix cut: the prefix positions are defined
    // on the full rarest-first order (filtering first would promote more
    // frequent shingles INTO the prefix and break the retention theorem)
    (if (dfCap == Long.MaxValue) pref
     else pref.filter(col("e.df") <= dfCap))
      .select(col("doc_id"), col("e.shingle").as("shingle"))
  }

  /** The q22 pipeline, built fresh (no memo): prefix-filtered candidate
    * generation + exact verify — the compute behind [[q22Cached]]. Output
    * is UNSORTED — consumers order or join as they need.
    */
  private def q22Fresh(s: SparkSession, dir: String): DataFrame =
    q22Pipeline(s, dir, Long.MaxValue)

  private def q22Pipeline(s: SparkSession, dir: String, dfCap: Long): DataFrame =
    jaccardVerified(fanOut(prefixCandidates(s, dir, dfCap)), shingleSets(s, dir))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        round(col("jacc_raw"), 6).as("jaccard"))

  /** q22/q158's candidates: the prefix-index self-join, deduped to bare
    * (doc_a < doc_b) id pairs, un-materialized — package-visible so
    * PlanSpec pins the join tree the pipelines see only behind
    * [[graft.Tables.fanOut]]'s checkpoint.
    */
  private[graft] def prefixCandidates(s: SparkSession, dir: String,
      dfCap: Long): DataFrame = {
    val pref = jaccardPrefixOf(orderedSetsCached(s, dir), dfCap)
    pref.as("a").join(pref.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** The full per-doc shingle sets (doc_id, sh, n), the verify side of
    * every prefix-index join, off the ordered-sets memo that also feeds
    * the index (Spark does not CSE across self-join branches). O(corpus
    * docs) — no broadcast hint (AQE broadcasts it when it actually fits).
    */
  private def shingleSets(s: SparkSession, dir: String): DataFrame =
    orderedSetsCached(s, dir).select(col("doc_id"),
      transform(col("ord"), _.getField("shingle")).as("sh"), col("n"))

  /** The one set-overlap verify: bare (doc_a, doc_b) candidates re-join
    * per-doc state (doc_id, sh, n, …) BY ID as `sa`/`sb` — shingle arrays
    * never ride the candidate join — and gain `inter` = |sh_a ∩ sh_b|.
    */
  private def withOverlap(cand: DataFrame, state: DataFrame): DataFrame =
    cand
      .join(state.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(state.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("inter", size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("long"))

  /** Jaccard over [[withOverlap]]: pairs with J ≥ [[JaccardT]], the ratio
    * kept as `jacc_raw`. Filtered on the UNROUNDED ratio: the prefix and
    * band filters guarantee candidate recall exactly for true J ≥ t, so a
    * round-then-filter would admit pairs with J ∈ [t − 5e-7, t) that the
    * filter may have pruned — rounding is presentation only (the oracle
    * SQL matches).
    */
  private def jaccardVerified(cand: DataFrame, state: DataFrame): DataFrame =
    withOverlap(cand, state)
      .withColumn("jacc_raw", col("inter").cast("double")
        / (col("sa.n") + col("sb.n") - col("inter")).cast("double"))
      .filter(col("jacc_raw") >= JaccardT)

  /** Every memo in the engine (including [[graft.queries.TrainingData]]'s
    * and [[graft.queries.CorpusStats]]'s shared gram surfaces), so
    * [[clearMemos]] honors the snapshot contract no matter which object
    * owns the memo. A [[Memo]] adds itself when constructed, which happens
    * at object construction (a single-threaded effect under the JVM
    * class-init lock), never after. Declared BEFORE the first `Memo` below
    * — object vals initialize in declaration order.
    */
  private val allMemos = new java.util.concurrent.CopyOnWriteArrayList[Memo[_]]
  /** Append-only log of completed memo builds — (name, build seconds), in
    * force order. The bench snapshots its size around each query timer:
    * any growth means that query was the first consumer of a shared
    * surface, and the logged duration lets it report the query's
    * steady-state time NET of the build (memo line items gross) instead
    * of re-litigating first-consumer deltas from totals every round.
    */
  private val memoBuildLog =
    new java.util.concurrent.CopyOnWriteArrayList[(String, Double)]
  private[graft] def memoBuildCount: Int = memoBuildLog.size
  private[graft] def memoBuildsSince(n: Int): Seq[(String, Double)] =
    memoBuildLog.toArray.iterator
      .map(_.asInstanceOf[(String, Double)]).drop(n).toSeq

  /** A shared surface memoized per (session, sfDir), declared with its
    * one compute: `memo(s, dir)` returns `compute(s, dir)`, run on the
    * first access to that key only. The key is the compute's whole input,
    * so a memoized value is a function of (session, dir) and nothing
    * else. `name` labels the surface's builds in the build log, so the
    * bench can say WHICH shared surface a query paid for.
    *
    * Each access first drops entries whose SparkContext has stopped,
    * bounding what a session-cycling JVM can accumulate to the dead
    * entries since the last access (eviction is access-triggered, not
    * stop-triggered, and `newSession()` clones sharing a live context are
    * kept).
    */
  private[graft] final class Memo[T](name: String)(compute: (SparkSession, String) => T) {
    /** Once-only cell: `TrieMap.getOrElseUpdate` evaluates its by-name
      * default BEFORE the atomic install, so two threads racing the first
      * access would BOTH run an eager-checkpoint compute — the loser's RDD
      * blocks would be stranded until the ContextCleaner notices.
      * Installing a cheap cell and forcing its `lazy val` afterwards means
      * the losing thread's cell is discarded un-evaluated and both threads
      * block on the single installed compute (pinned by the concurrency
      * tests in DedupSpec and CorpusStatsSpec).
      */
    private final class Cell(s: SparkSession, dir: String) {
      lazy val value: T = logged(compute(s, dir))
    }
    private val table = TrieMap.empty[(SparkSession, String), Cell]
    allMemos.add(this)

    def apply(s: SparkSession, dir: String): T = {
      table.filterInPlace { case ((sess, _), _) => !sess.sparkContext.isStopped }
      table.getOrElseUpdate((s, dir), new Cell(s, dir)).value
    }

    def clear(): Unit = table.clear()

    private def logged(compute: => T): T = {
      val n0 = memoBuildLog.size
      val t0 = System.nanoTime()
      val v = compute
      // logged AFTER the compute succeeds: a failed build isn't a paid
      // tax. The duration covers the forced compute (for checkpointed
      // memos, the actual cluster materialization) EXCLUSIVE of any
      // nested memo builds it forced — those logged their own (already
      // exclusive) durations during `compute`, so subtracting their sum
      // keeps the line items additive: Σ items = true build wall time,
      // never double-counted (q22_pairs forces ordered_sets inside it).
      val gross = (System.nanoTime() - t0) / 1e9
      val nested = memoBuildsSince(n0).map(_._2).sum
      memoBuildLog.add((name, math.max(gross - nested, 0.0)))
      v
    }
  }

  /** Drop every memoized value (see the snapshot contract on [[q22Cached]]). */
  def clearMemos(): Unit = allMemos.forEach(_.clear())

  /** Memoized materialization of [[q22Fresh]] per (session, sfDir): the
    * near-dup pair list is the intermediate every downstream dedup stage
    * consumes (q45's graph, hence q58's funnel), exactly like the label
    * memo below — one pair generation per session, not one per consumer.
    *
    * Contract: the corpus under `dir` is an immutable snapshot for the
    * session's lifetime (standard warehouse semantics — every query here
    * assumes it). A caller that rewrites a dir in-session must
    * [[clearMemos]] first or results are the OLD snapshot's.
    */
  private[graft] val q22Cached = new Memo[DataFrame]("q22_pairs")((s, dir) =>
    q22Fresh(s, dir).localCheckpoint(true))

  /** Memoized rarest-first per-doc shingle sets — the index substrate
    * shared by q22's pair generation and q121's incremental probe. */
  private val orderedSetsCached = new Memo[DataFrame]("ordered_sets")((s, dir) =>
    orderedSets(shingleRows(s, dir)).localCheckpoint(true))

  /** q22: n-gram Jaccard near-dup pairs (J ≥ [[JaccardT]] on word
    * 3-shingles) via a PREFIX-FILTERED inverted index (Bayardo All-Pairs /
    * PPJoin): shingles get a global rarest-first total order (document
    * frequency ASC, shingle ASC), and each document indexes only its first
    * p = n − ⌈t·n⌉ + 1 shingles in that order. Any pair with J ≥ t shares
    * ≥ ⌈t·max(|A|,|B|)⌉ shingles, so its RAREST shared shingle provably
    * falls in both prefixes — candidate generation is exact, never a
    * heuristic. Candidates from the prefix equi-join are then verified
    * against the FULL shingle sets (array_intersect), so scores are exact
    * too.
    *
    * Scale property this buys over the plain inverted index: a viral
    * shingle (df ≈ corpus) sorts LAST in the global order, falls outside
    * every large document's prefix, and therefore generates no candidate
    * pairs at all — the df² blow-up of a skewed index key is structurally
    * impossible (pinned by the skew test in DedupSpec and the parity test
    * against the un-filtered join).
    */
  def q22NgramJaccard(s: SparkSession, dir: String): DataFrame =
    q22Cached(s, dir).orderBy(col("doc_a"), col("doc_b"))

  /** DuckDB fragment: distinct (doc_id, shingle) pairs + per-doc size. */
  private def sqlShingles: String =
    s"""w AS (
      |  SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
      |${shingleSetSql("sh", "doc_id", 3, "w")},
      |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id)""".stripMargin

  val q22Sql: String =
    s"""WITH $sqlShingles,
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, inter,
       | ROUND(CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE), 6) AS jaccard
       |FROM inter
       | JOIN sz sa ON doc_a = sa.doc_id
       | JOIN sz sb ON doc_b = sb.doc_id
       |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q158: the Jaccard near-dup join under the [[JaccardDfCap]] index cap
    * — q22's pipeline with the prefix index restricted to shingles of
    * df ≤ cap, so every index bucket is at most cap rows at ANY corpus
    * scale (the production knob for adversarial/boilerplate-heavy
    * corpora, where even prefix-filtered df keeps growing with the
    * corpus). Same exact full-set verify; the capped candidate set is a
    * SUBSET of q22's and retains every pair whose rarest common shingle
    * has df ≤ cap (the retention theorem, pinned by DedupSpec). The
    * oracle embeds the identical cap, order, and prefix cut, so engine ≡
    * oracle is deterministic even where the approximation drops pairs.
    */
  def q158JaccardDfCap(s: SparkSession, dir: String): DataFrame =
    q22Pipeline(s, dir, JaccardDfCap).orderBy(col("doc_a"), col("doc_b"))

  val q158Sql: String =
    s"""WITH $sqlShingles,
       |dfq AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY s),
       |ord AS (
       |  SELECT sh.doc_id, sh.s, dfq.df,
       |   row_number() OVER (PARTITION BY sh.doc_id ORDER BY dfq.df, sh.s) AS rn
       |  FROM sh JOIN dfq ON sh.s = dfq.s),
       |pref AS (
       |  SELECT o.doc_id, o.s FROM ord o JOIN sz ON o.doc_id = sz.doc_id
       |  WHERE o.rn <= sz.n - CEIL(sz.n * $JaccardT) + 1 AND o.df <= $JaccardDfCap),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id),
       |iv AS (
       |  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter
       |  FROM cand c
       |   JOIN sh a ON a.doc_id = c.doc_a
       |   JOIN sh b ON b.doc_id = c.doc_b AND a.s = b.s
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, inter,
       | ROUND(CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE), 6) AS jaccard
       |FROM iv
       | JOIN sz sa ON doc_a = sa.doc_id
       | JOIN sz sb ON doc_b = sb.doc_id
       |WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= $JaccardT
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q23: MinHash + banded LSH near-dup detection. Per doc: a K-component
    * MinHash signature (h_j(s) = (a_j·hash32(s) + b_j) mod p over the
    * 3-shingle set); signatures are banded (4 bands × 4 rows) and docs
    * sharing any band become candidates via an equi-join on
    * (band_idx, band_signature). Candidates are then verified with the
    * exact Jaccard (array_intersect on the shingle sets) — the classic
    * filter-verify LSH pipeline. Band width trades recall vs candidate
    * count; at corpus scale the band join replaces the O(n²) comparison
    * entirely.
    */
  def q23MinHashLsh(s: SparkSession, dir: String): DataFrame = {
    // Per-doc state and band rows come from the SHARED helpers q108 also
    // probes with ([[minhashState]]/[[bandRows]]) — one copy of the
    // MinHash math, so the spec-pinned "q108 ≡ q23 restricted to
    // delta-base pairs" equivalence can't drift. The state is eagerly
    // checkpointed inside minhashState: the band explode, both
    // candidate-join sides, and both verify sides all read it, and Spark
    // does not CSE across self-join branches. Band rows carry ONLY
    // (doc_id, band, band_sig) — shingle arrays never ride the band
    // fan-out (cf. q67); state is re-fetched by id in the verify joins.
    jaccardVerified(fanOut(bandCandidates(s, dir)), minhashStateCached(s, dir))
      .select(col("doc_a"), col("doc_b"),
        round(size(filter(zip_with(col("sa.sig"), col("sb.sig"), (x, y) => x === y),
          b => b)).cast("double") / MinHashK, 6).as("est_sim"),
        round(col("jacc_raw"), 6).as("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q23's candidates: the (band, band_sig) self-join of the band rows,
    * deduped to bare (doc_a < doc_b) id pairs, un-materialized.
    * Package-visible for PlanSpec's candidate-join pins.
    */
  private[graft] def bandCandidates(s: SparkSession, dir: String): DataFrame = {
    val bands = bandRows(minhashStateCached(s, dir))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.band_sig") === col("b.band_sig")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** DuckDB fragment: per-doc MinHash signatures + band rows — the SQL
    * twin of [[minhashState]]/[[bandRows]], shared by the q23 and q108
    * oracles so the two engines' and two queries' MinHash math is defined
    * exactly once per side. Requires [[sqlShingles]] in scope.
    */
  private def sqlMinhashCtes: String = {
    val aList = MinHashA.mkString("[", ", ", "]")
    val bList = MinHashB.mkString("[", ", ", "]")
    s"""docs AS (
       |  SELECT doc_id, list(s) AS sh FROM sh GROUP BY doc_id),
       |sigs AS (
       |  SELECT doc_id, sh, CAST(len(sh) AS BIGINT) AS n,
       |   list_transform(range(0, $MinHashK), j ->
       |     list_min(list_transform(sh, s ->
       |       (($aList)[j + 1] * ${hash32Sql("s")}
       |        + ($bList)[j + 1]) % $MinHashPrime))) AS sig
       |  FROM docs),
       |bands AS (
       |  SELECT doc_id, sh, n, sig, band,
       |   array_to_string(sig[band * $MinHashRowsPerBand + 1 : band * $MinHashRowsPerBand + $MinHashRowsPerBand], ',') AS band_sig
       |  FROM sigs, unnest(range(0, $MinHashBands)) AS t(band))""".stripMargin
  }

  val q23Sql: String = {
    s"""WITH $sqlShingles,
       |$sqlMinhashCtes,
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |   a.sig AS sig_a, b.sig AS sig_b, a.sh AS sh_a, b.sh AS sh_b,
       |   a.n AS na, b.n AS nb
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
       |scored AS (
       |  SELECT doc_a, doc_b,
       |   ROUND(CAST(list_sum(list_transform(range(1, $MinHashK + 1),
       |           i -> CASE WHEN sig_a[i] = sig_b[i] THEN 1 ELSE 0 END)) AS DOUBLE)
       |         / $MinHashK, 6) AS est_sim,
       |   CAST(len(list_intersect(sh_a, sh_b)) AS BIGINT) AS inter, na, nb
       |  FROM cand)
       |SELECT doc_a, doc_b, est_sim,
       | ROUND(CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE), 6) AS jaccard
       |FROM scored
       |WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** q45: connected-components canonicalization of the near-dup graph —
    * the step a real dedup pipeline runs after pair generation (q22):
    * transitively-linked docs collapse to one canonical id (the
    * component's min doc_id), so A≈B≈C dedups to a single keeper even
    * when A and C were never directly compared.
    *
    * Algorithm: min-label propagation to fixpoint. Each round joins the
    * current labels to the symmetric edge list and takes the min over
    * self+neighbors — a driver-controlled loop of shuffle joins over the
    * (tiny relative to the corpus) near-dup node set. Convergence needs
    * O(diameter) rounds; the fixpoint is unique, so the result is
    * deterministic regardless of round count. Oracle: DuckDB recursive
    * CTE computing min reachable id.
    */
  def q45DedupComponents(s: SparkSession, dir: String): DataFrame =
    componentLabels(s, dir).orderBy(col("doc"))

  /** Memoized per (session, sfDir): q45 is the canonical consumer, but the
    * curation funnel (q58) needs the same labels — without the memo a
    * bench/verify session would run the whole pair generation +
    * propagation loop twice (it was ⅓ of the round-4 bench). Holding the
    * frame here also keeps a live reference to its checkpointed RDDs, so
    * the ContextCleaner can't reclaim them between consumers; entries are
    * evicted once their session stops (see [[Memo]]), and the
    * immutable-snapshot contract on [[q22Cached]] applies here too.
    */
  val componentLabels = new Memo[DataFrame]("component_labels")(computeComponentLabels)

  private def computeComponentLabels(s: SparkSession, dir: String): DataFrame =
    minLabelPropagation(q22Cached(s, dir).select(col("doc_a"), col("doc_b")))

  /** An undirected pair list `(doc_a, doc_b)` as a directed edge list:
    * both orientations of every pair. Callers pick the checkpoint. */
  private def symmetricEdges(pairs: DataFrame): DataFrame =
    pairs.union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))

  /** Min-label propagation (hash-min + pointer doubling) to fixpoint over
    * an undirected pair list `(doc_a, doc_b)` → `(doc, comp)` where comp
    * is the min doc id reachable from doc. Factored from q45 so q121 can
    * run the SAME loop on its condensed fold graph; the input frame should
    * already be materialized (q45 passes the checkpointed q22 memo) — both
    * union branches below read it.
    */
  private[graft] def minLabelPropagation(pairs: DataFrame): DataFrame = {
    // localCheckpoint (eager) rather than cache throughout this loop, for
    // two reasons: (a) iterative plans grow a deeper logical tree every
    // round, and Catalyst re-analyzes the whole lineage per action —
    // checkpointing truncates it so round N costs the same as round 1
    // (the standard fix for iterative algorithms; GraphX checkpoints the
    // same way); (b) checkpointed RDDs are reclaimed by the ContextCleaner
    // once unreferenced, so nothing leaks executor storage across
    // invocations (CacheManager entries would persist until an explicit
    // unpersist) — the memos pin only the shared frames.
    // lazy checkpoints from here on: the next action both materializes and
    // truncates, so each round costs exactly one job
    val edges = symmetricEdges(pairs)
      .localCheckpoint(false) // reused every propagation round
    var labels = edges.select(col("doc_a").as("doc")).distinct()
      .withColumn("comp", col("doc"))
      .localCheckpoint(false)
    // Convergence check without an extra join-job: labels are doc ids
    // (non-negative) and min-propagation is monotone non-increasing per
    // node, so the label sum strictly decreases until the fixpoint and is
    // unchanged exactly at it. One scalar aggregate per round. The sum runs
    // in decimal(38,0) — summing 64-bit ids in a Long overflows at corpus
    // id ranges — and coalesces to 0 so an EMPTY near-dup graph (zero q22
    // pairs) converges on the first round instead of NPE-ing on a null sum.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("comp").cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    while (!converged) {
      val viaNeighbors = edges.join(labels, col("doc_a") === col("doc"))
        .select(col("doc_b").as("doc"), col("comp"))
      // THREE chained pointer jumps on the PREVIOUS round's labels:
      // comp ← prev⁴(v). Every comp value is itself a node id, so each
      // lookup join is total, and `labels` is a materialized checkpoint
      // RDD — all four references read stored blocks, nothing recomputes.
      // ONE plan per round (r20-opt): min(prev⁴(v), min over neighbors'
      // prev) — jumping and hash-min fused so each round costs a single
      // action (the labelSum below materializes the lazy checkpoint),
      // where the r19 shape paid two (an eager mid-round checkpoint of
      // the hash-min frame, then the sum). Chaining jumps off the SAME
      // materialized frame also grows the label horizon 4× per round vs
      // the r19 min-then-double's 2× — measured decisive on the sf1
      // giant-component graphs (q184's composite sweep regressed 25→49 s
      // under a single-jump fusion; the r19 two-action loop and this one
      // both converge it in ~half the rounds of that variant). Same
      // fixpoint: labels stay monotone non-increasing ids of reachable
      // nodes (comp(x) ≤ x by induction), and at the fixpoint adjacent
      // nodes must share a label — the component min, exactly as before.
      val ptr = labels.select(col("doc").as("p_doc"), col("comp").as("p_comp"))
      def jump(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        df.join(ptr, col("comp") === col("p_doc"))
          .select(col("doc"), col("p_comp").as("comp"))
      val next = jump(jump(jump(labels))).union(viaNeighbors)
        .groupBy(col("doc")).agg(min(col("comp")).as("comp"))
        .localCheckpoint(false)
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
    }
    labels
  }

  /** Recursive-CTE block computing per-doc connected-component labels
    * (`labels(doc, comp)`) of the near-dup graph — shared between q45's
    * oracle and downstream pipeline oracles (q58). Must be placed in a
    * `WITH RECURSIVE`.
    */
  val sqlComponentsCtes: String =
    s"""$sqlShingles,
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |near AS (
       |  SELECT doc_a, doc_b FROM inter
       |   JOIN sz sa ON doc_a = sa.doc_id
       |   JOIN sz sb ON doc_b = sb.doc_id
       |  WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5),
       |edges AS (
       |  SELECT doc_a, doc_b FROM near
       |  UNION ALL SELECT doc_b, doc_a FROM near),
       |reach AS (
       |  SELECT DISTINCT doc_a AS doc, doc_a AS r FROM edges
       |  UNION
       |  SELECT reach.doc, edges.doc_b AS r
       |  FROM reach JOIN edges ON reach.r = edges.doc_a),
       |labels AS (SELECT doc, min(r) AS comp FROM reach GROUP BY doc)""".stripMargin

  val q45Sql: String =
    s"""WITH RECURSIVE $sqlComponentsCtes
       |SELECT doc, comp FROM labels ORDER BY doc""".stripMargin

  /** Span length (tokens) for q159's exact-substring duplication audit. */
  val DupSpanLen: Int = 8

  /** q159: exact-substring duplication coverage — the span-level member of
    * the dedup family (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better"): document-level dedup (q21–q24, q40)
    * misses the boilerplate/quotation case where only PASSAGES repeat, so
    * per document this reports how much of its token stream is covered by
    * some [[DupSpanLen]]-token gram that occurs elsewhere in the corpus
    * (any second occurrence counts — another doc or a repeat within the
    * same doc, matching the reference recipe's within-corpus semantics).
    *
    * Plan shape — the gram-join formulation of exact-substring dedup:
    * positions explode map-side (Σ(n−L+1) rows, linear), duplicated grams
    * come from one gram-keyed hash aggregate (map-side partials; the same
    * shuffle any exact-substring pass pays — suffix-array variants save
    * memory, not shuffle), duplicated positions re-attach by a gram
    * equi-join, and per-doc interval union runs as a sort_array +
    * expression-level fold inside ONE doc-keyed aggregate — no window, no
    * second corpus pass, no per-pair work anywhere: cost is linear in
    * corpus tokens + duplicated-gram occurrences at any scale.
    */
  def q159DupSpans(s: SparkSession, dir: String): DataFrame = {
    val L = DupSpanLen
    val docs = resplit(documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"), col("ws"))
    val grams = docs
      .select(col("doc_id"), col("n_tokens"),
        posexplode(shingles(col("ws"), L)).as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("g"))
    // total occurrence multiplicity ≥ 2 — a corpus-wide gram aggregate
    val dupG = grams.groupBy(col("g")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select(col("g"))
    val dupPos = grams.join(dupG, "g").select(col("doc_id"), col("pos"))
    // union length of [p, p+L) over the doc's sorted duplicated positions:
    // positions ascend, so each span's fresh coverage is p+L − max(end, p)
    val state0 = struct(lit(0L).as("cov"), lit(0L).as("end"))
    val perDoc = dupPos.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("ps"),
        count(lit(1)).as("dup_grams"))
      .select(col("doc_id"), col("dup_grams"),
        aggregate(col("ps"), state0, (acc, p) =>
          struct(
            (acc.getField("cov") +
              greatest(lit(0L), p + L - greatest(acc.getField("end"), p))).as("cov"),
            (p + lit(L.toLong)).as("end")),
          acc => acc.getField("cov")).as("covered_tokens"))
    docs.select(col("doc_id"), col("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)).cast("double")
          / col("n_tokens"), 6).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  val q159Sql: String = {
    val L = DupSpanLen
    s"""WITH w AS (
       |  SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |grams AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |   array_to_string(w[i:i+${L - 1}], ' ') AS g
       |  FROM w, unnest(range(1, len(w) - ${L - 2})) AS u(i)
       |  WHERE len(w) >= $L),
       |dupg AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
       |dp AS (
       |  SELECT doc_id, pos,
       |   max(pos + $L) OVER (PARTITION BY doc_id ORDER BY pos
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |  FROM grams JOIN dupg USING (g)),
       |cov AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_grams,
       |   CAST(sum(pos + $L - greatest(coalesce(prev_end, pos), pos)) AS BIGINT)
       |     AS covered_tokens
       |  FROM dp GROUP BY doc_id)
       |SELECT w.doc_id, CAST(len(w.w) AS BIGINT) AS n_tokens,
       | coalesce(cov.dup_grams, 0) AS dup_grams,
       | coalesce(cov.covered_tokens, 0) AS covered_tokens,
       | ROUND(CAST(coalesce(cov.covered_tokens, 0) AS DOUBLE) / len(w.w), 6) AS dup_frac
       |FROM w LEFT JOIN cov ON w.doc_id = cov.doc_id
       |ORDER BY w.doc_id""".stripMargin
  }

  /** q24: SimHash near-dup detection. Per doc: a 48-bit signature — bit i
    * is the sign of Σ over the token stream of ±1 (token hash bit i) —
    * then a banded hamming join with OCCUPANCY-ADAPTIVE geometry
    * (Manku/WWW'07 block permutation, [[simHashBlocks]]): the signature is
    * cut into m equal blocks and candidates are keyed per 3-block
    * exclusion (C(m,3) tables on 48·(m−3)/m-bit masked signatures), so
    * pigeonhole still guarantees every hamming ≤ 3 pair a clean table
    * while the key width grows with the corpus (12-bit keys ≤ 16k docs,
    * 24-bit to 67M, then 30/36) and uniform bucket occupancy stays
    * bounded. Candidates are verified with bit_count(a XOR b) ≤ 3; the
    * verified pair set is geometry-invariant (every ladder step is
    * lossless — pinned by DedupSpec), so scale-ups change cost, never
    * results. Frequency-weighted by construction (repeated tokens add
    * weight), order-insensitive, one map pass + band equi-join — the
    * Google-style web-dedup shape.
    */
  def q24SimHash(s: SparkSession, dir: String): DataFrame =
    q24SimHashWithBlocks(s, dir,
      simHashBlocks(documents(s, dir).count()))

  /** The occupancy-adaptive Hamming band join over ANY (doc_id, sig)
    * frame of [[SimHashBits]]-wide signatures — q24's candidate machine,
    * factored so the image dHash (q197) and acoustic fingerprint (q198)
    * near-dup operators reuse it verbatim: explode each signature into
    * the C(m,3) block-permutation candidate tables
    * ([[simHashTableMasks]]), equi-join on (table, masked signature),
    * dedup candidate pairs, verify with bit_count(xor) ≤
    * [[SimHashMaxHamming]]. Lossless for hamming ≤ 3 at every block
    * count m ≥ 4 (pigeonhole: ≤ 3 dirty bits live in ≤ 3 blocks, so some
    * kept (m−3)-block key is clean on both sides). Returns
    * (doc_a, doc_b, sig_a, sig_b, hamming), unordered.
    *
    * `alignCols` (optional) are extra equality keys from `base` folded
    * INTO the band-join key: two signatures are candidates only when
    * every alignment column matches. q200's frame-sampled video dedup
    * passes the frame index here, so misaligned frame pairs never
    * materialize as candidates — the shuffle key becomes (align…, band,
    * band_val) and each frame's signatures land in their own buckets
    * (equivalent to, but cheaper than, candidate-then-filter: the r17
    * verdict's one plan finding).
    */
  private[graft] def hammingBandPairs(base: DataFrame, blocks: Int,
      alignCols: Seq[String] = Nil): DataFrame = {
    val bandStructs = array(simHashTableMasks(blocks).zipWithIndex.map {
      case (mask, k) => struct(lit(k).as("band"),
        col("sig").bitwiseAND(lit(mask)).as("band_val"))
    }: _*)
    val keep = Seq(col("doc_id"), col("sig")) ++ alignCols.map(col)
    val bands = base.select(keep :+ explode(bandStructs).as("bv"): _*)
      .select(keep :+ col("bv.band").as("band") :+ col("bv.band_val").as("band_val"): _*)
    val joinKey = (Seq("band", "band_val") ++ alignCols)
      .map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _)
    bands.as("a").join(bands.as("b"),
        joinKey && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= SimHashMaxHamming)
  }

  /** The q24 pipeline at a FIXED block count — package-visible so the
    * spec can pin pair-set equality across ladder steps. */
  private[graft] def q24SimHashWithBlocks(s: SparkSession, dir: String,
      blocks: Int): DataFrame = {
    // Token stream WITH duplicates (frequency weighting), on the codegen
    // path: explode → one hash-aggregate with 48 sum(±1) columns, then the
    // signature is assembled from the 48 sign bits. The earlier
    // formulation (nested interpreted folds per document) was the
    // dominant cost in the whole bench.
    val tok = resplit(documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .withColumn("h", hash60(col("w")) % (1L << SimHashBits))
    val bitSums = (0 until SimHashBits).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"b$i"))
    val sig = (0 until SimHashBits)
      .map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L))
      .reduce(_ + _)
    val base = tok.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .withColumn("sig", sig)
      .select(col("doc_id"), col("sig"))
      // materialized once (r19-opt): the band join self-joins this frame
      // and Spark does not CSE across the branches — un-checkpointed, the
      // tokenize + 48-column signature aggregate ran twice per query
      .localCheckpoint(true)
    hammingBandPairs(base, blocks)
      .select(col("doc_a"), col("doc_b"),
        col("sig_a").as("sim_a"), col("sig_b").as("sim_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q24's oracle keeps the FIXED 4×12-bit geometry: every ladder step is
    * a lossless candidate generator for hamming ≤ 3, so the verified pair
    * set the oracle computes is identical to the engine's at any adaptive
    * block count — the oracle checks results, not geometry. */
  val q24Sql: String = {
    val mask = (1L << SimHashBandBits) - 1
    s"""WITH t AS (
       |  SELECT doc_id,
       |   list_transform(${wordsSql("text")},
       |     x -> ${hash60Sql("x")} % ${1L << SimHashBits}) AS hs
       |  FROM documents),
       |sigs AS (
       |  SELECT doc_id,
       |   list_reduce(list_prepend(CAST(0 AS BIGINT), range(0, $SimHashBits)), (acc, i) ->
       |     acc + CASE WHEN
       |       list_reduce(list_prepend(CAST(0 AS BIGINT), hs), (c, h) ->
       |         c + CASE WHEN (h // (CAST(1 AS BIGINT) << i)) % 2 = 1 THEN 1 ELSE -1 END) > 0
       |     THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS simhash
       |  FROM t WHERE len(hs) > 0),
       |bands AS (
       |  SELECT doc_id, simhash, band,
       |   (simhash >> (band * $SimHashBandBits)) & $mask AS band_val
       |  FROM sigs, unnest(range(0, $SimHashBands)) AS u(band)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |   a.simhash AS sim_a, b.simhash AS sim_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, sim_a, sim_b,
       | CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= $SimHashMaxHamming
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** PageRank damping factor and (fixed, unrolled-in-the-oracle) iteration
    * count for q97.
    */
  val PrDamping: Double = 0.85
  val PrIters: Int = 3

  /** q97: PageRank over the near-dup graph — [[PrIters]] Lloyd-style
    * power iterations with damping [[PrDamping]] on the undirected q22
    * pair graph. Where q45 answers "which documents form one duplicate
    * cluster", PageRank answers "which documents are the HUBS of the
    * duplication structure" — the template pages and boilerplate carriers
    * worth human eyes first. It also exercises the second iterative-graph
    * pattern next to q45's hash-min: per-round contribution join +
    * re-aggregation with localCheckpoint lineage truncation, the shape
    * GraphX-style algorithms take on DataFrames.
    *
    * Scale shape: state is one row per NODE of the pair graph (≪ corpus);
    * each round is an edges⋈ranks equi-join and a dst-keyed sum — both
    * shuffle on node ids, no broadcast of anything data-sized. The
    * iteration count is fixed, so the oracle unrolls the same three
    * rounds as plain CTEs; every arithmetic step mirrors the SQL
    * expression shape, and final ranks round to 6dp (summation-order
    * slack ~1e-15).
    */
  def q97PageRank(s: SparkSession, dir: String): DataFrame = {
    val pairs = q22Cached(s, dir).select(col("doc_a"), col("doc_b"))
    val edges = symmetricEdges(pairs).localCheckpoint(false)
    val deg = edges.groupBy(col("doc_a")).agg(count(lit(1)).as("deg"))
      .select(col("doc_a").as("doc"), col("deg"))
      .localCheckpoint(false)
    val n = deg.count()
    val base = (lit(1.0) - lit(PrDamping)) / lit(n.toDouble)
    var ranks = deg.select(col("doc"), col("deg"), (lit(1.0) / lit(n.toDouble)).as("pr"))
    for (_ <- 1 to PrIters) {
      val contrib = edges
        .join(ranks, col("doc_a") === col("doc"))
        .select(col("doc_b"), (col("pr") / col("deg")).as("m"))
        .groupBy(col("doc_b")).agg(sum(col("m")).as("m"))
      ranks = deg.join(contrib, col("doc") === col("doc_b"))
        .select(col("doc"), col("deg"), (base + lit(PrDamping) * col("m")).as("pr"))
        .localCheckpoint(false)
    }
    ranks.select(col("doc"), col("deg"), round(col("pr"), 6).as("pagerank"))
      .orderBy(col("pagerank").desc, col("doc"))
  }

  val q97Sql: String = {
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT d.doc, d.deg, (1.0 - $PrDamping) / nn.n + $PrDamping * s.m AS pr
         |  FROM deg d CROSS JOIN nn
         |  JOIN (SELECT e.doc_b AS doc, sum(p.pr / p.deg) AS m
         |        FROM edges e JOIN $prev p ON e.doc_a = p.doc GROUP BY e.doc_b) s
         |    ON d.doc = s.doc)""".stripMargin
    s"""WITH RECURSIVE $sqlComponentsCtes,
       |deg AS (
       |  SELECT doc_a AS doc, CAST(count(*) AS BIGINT) AS deg
       |  FROM edges GROUP BY doc_a),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
       |it0 AS (SELECT doc, deg, 1.0 / nn.n AS pr FROM deg CROSS JOIN nn),
       |${iter("it0", "it1")},
       |${iter("it1", "it2")},
       |${iter("it2", "it3")}
       |SELECT doc, deg, ROUND(pr, 6) AS pagerank FROM it3
       |ORDER BY pagerank DESC, doc""".stripMargin
  }

  // ---------------------------------------------------------------- q108

  /** q108: incremental near-dup ingest — dedup a DELTA batch (today's
    * crawl, stood in by `doc_id % 10 = 3`) against the BASE corpus without
    * any base×base work. This is the operation a production pipeline runs
    * per increment: the base's banded MinHash signatures are the persisted
    * INDEX; the delta computes its own signatures, probes the index with a
    * band equi-join (delta-sized fan-out only), and candidates are
    * exact-verified by re-joining shingle sets BY ID (q23's ids-only
    * band-shuffle rule). Output is the ingest decision per delta document
    * — `dup` (≥1 base near-dup, with match count and best Jaccard) or
    * `novel` — anchored on the delta docs so zero-match documents can't
    * vanish (q70's report rule).
    *
    * Scale: per-increment cost is O(delta signatures + band probe +
    * candidate verify); the base index is scanned once and never
    * self-joined — the whole point of incremental ingest at 100 TB, where
    * re-running q23 over base∪delta would redo the base×base quadrant
    * daily. (Here the base signatures are recomputed per run since the
    * harness persists nothing between invocations; the JOIN SHAPE — probe
    * vs index, never index vs index — is the scale property, and the spec
    * pins q108's dup set to q23's full pair list restricted to delta-base
    * pairs, so the shortcut provably loses nothing.)
    */
  /** Per-ROW MinHash band rows — the STREAM-APPLICABLE formulation of
    * [[minhashState]] + [[bandRows]]: the signature is a pure expression
    * per document (min over the shingle multiset ≡ min over the distinct
    * set, so the explode+groupBy the batch path uses for codegen
    * efficiency is unnecessary), which means it computes map-side on an
    * unbounded stream with no aggregate — the "signature in the event"
    * half of the streaming near-dup dedup ([[graft.streaming
    * .NearDupStream]]). Input needs (doc_id, text) plus any passthrough
    * columns (event time rides along); output replaces `text` with
    * (band, band_sig) rows, one per band, in exactly [[bandRows]]'s
    * format (StreamingSpec pins rowBandRows ≡ bandRows∘minhashState on
    * the same corpus). Documents with no shingles (< 3 words) carry no
    * signature and are dropped, matching the batch path.
    */
  private[graft] def rowBandRows(docs: DataFrame): DataFrame = {
    val passthrough = docs.columns.filterNot(_ == "text")
    val sigCol = array((0 until MinHashK).map(j =>
      array_min(transform(col("sh"), x =>
        (hash32(x) * MinHashA(j) + MinHashB(j)) % MinHashPrime))): _*)
    docs.withColumn("sh", shingles(words(col("text")), 3))
      .filter(size(col("sh")) >= 1)
      .withColumn("sig", sigCol)
      .withColumn("band", explode(sequence(lit(0), lit(MinHashBands - 1))))
      .withColumn("band_sig",
        array_join(slice(col("sig"), col("band") * MinHashRowsPerBand + 1,
          lit(MinHashRowsPerBand)), ","))
      .select((passthrough :+ "band" :+ "band_sig").map(col).toSeq: _*)
  }

  /** Memoized [[minhashState]] per (session, sfDir) — r19-opt: q23 and
    * q108 each paid their OWN build of the identical corpus-wide
    * shingle + K-hash-min aggregate (two full tokenize+aggregate passes
    * per session where one suffices). Same immutable-snapshot contract
    * and bench accounting as [[q22Cached]]; consumers read the same frame
    * they built privately before, so results are unchanged.
    */
  private val minhashStateCached = new Memo[DataFrame]("minhash_state")(minhashState)

  /** Per-doc MinHash state (doc_id, sig, n, sh) for every document —
    * q108's index substrate, eagerly checkpointed (band explode, probe,
    * and both verify sides all read it).
    */
  private[graft] def minhashState(s: SparkSession, dir: String): DataFrame = {
    val ex = shingleRows(s, dir).withColumn("h32", hash32(col("shingle")))
    val minCols = (0 until MinHashK).map(j =>
      min((col("h32") * MinHashA(j) + MinHashB(j)) % MinHashPrime).as(s"m$j"))
    val aggs = minCols :+ count(lit(1)).as("n") :+ collect_list(col("shingle")).as("sh")
    ex.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("sig", array((0 until MinHashK).map(j => col(s"m$j")): _*))
      .select(col("doc_id"), col("sig"), col("n").cast("long").as("n"), col("sh"))
      .localCheckpoint(true)
  }

  /** (doc_id, band, band_sig) band rows over a state frame — the LSH
    * index key space.
    */
  private[graft] def bandRows(state: DataFrame): DataFrame =
    state.select(col("doc_id"), col("sig"),
      explode(sequence(lit(0), lit(MinHashBands - 1))).as("band"))
      .withColumn("band_sig",
        array_join(slice(col("sig"), col("band") * MinHashRowsPerBand + 1, lit(MinHashRowsPerBand)), ","))
      .select(col("doc_id"), col("band"), col("band_sig"))

  /** The probe-vs-index core of q108, factored so STREAMING ingest can run
    * it per micro-batch (StreamingSpec drives it under foreachBatch):
    * delta band rows probe the base band rows, candidates dedup to bare
    * (doc_a = delta, doc_b = base) id pairs, the shared Jaccard verify
    * ([[jaccardVerified]]) re-joins per-doc state by id, and the verdict
    * frame is anchored on `deltaDocs` so zero-match documents can't
    * vanish.
    */
  private[graft] def probeVerdicts(state: DataFrame, baseBands: DataFrame,
      deltaBands: DataFrame, deltaDocs: DataFrame): DataFrame = {
    val cand = deltaBands.as("d")
      .join(baseBands.as("b"),
        col("d.band") === col("b.band") && col("d.band_sig") === col("b.band_sig"))
      .select(col("d.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val matches = jaccardVerified(fanOut(cand), state)
      .groupBy(col("doc_a"))
      .agg(count(lit(1)).as("nm"), round(max(col("jacc_raw")), 6).as("bj"))
    deltaDocs.select(col("doc_id"), col("lang"))
      .join(matches, col("doc_id") === col("doc_a"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("nm"), lit(0L)).as("n_base_matches"),
        col("bj").as("best_jaccard"),
        when(col("doc_a").isNotNull, "dup").otherwise("novel").as("verdict"))
      .orderBy(col("doc_id"))
  }

  def q108IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val state = minhashStateCached(s, dir)
    val bands = bandRows(state)
    val isDelta = col("doc_id") % 10 === 3
    probeVerdicts(state, bands.filter(!isDelta), bands.filter(isDelta),
      documents(s, dir).filter(isDelta))
  }

  val q108Sql: String = {
    s"""WITH $sqlShingles,
       |$sqlMinhashCtes,
       |cand AS (
       |  SELECT DISTINCT d.doc_id AS delta_id, b.doc_id AS base_id,
       |   d.sh AS sh_a, b.sh AS sh_b, d.n AS na, b.n AS nb
       |  FROM bands d JOIN bands b
       |    ON d.band = b.band AND d.band_sig = b.band_sig
       |   AND d.doc_id % 10 = 3 AND b.doc_id % 10 <> 3),
       |scored AS (
       |  SELECT delta_id, base_id,
       |   CAST(len(list_intersect(sh_a, sh_b)) AS BIGINT) AS inter, na, nb
       |  FROM cand),
       |m AS (
       |  SELECT delta_id, CAST(count(*) AS BIGINT) AS n_base_matches,
       |   ROUND(MAX(CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)), 6)
       |     AS best_jaccard
       |  FROM scored
       |  WHERE CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE) >= $JaccardT
       |  GROUP BY delta_id)
       |SELECT d.doc_id, d.lang,
       | COALESCE(m.n_base_matches, 0) AS n_base_matches,
       | m.best_jaccard,
       | CASE WHEN m.delta_id IS NOT NULL THEN 'dup' ELSE 'novel' END AS verdict
       |FROM documents d LEFT JOIN m ON d.doc_id = m.delta_id
       |WHERE d.doc_id % 10 = 3
       |ORDER BY d.doc_id""".stripMargin
  }

  /** q119: triangle count + local clustering coefficient of the near-dup
    * graph — the graph-topology report read next to q75's cluster sizes
    * and q97's PageRank: a component held together by triangles is true
    * mutual duplication (safe to collapse to one keeper), while a
    * triangle-free star is one template touching many near-misses (the
    * keeper policy should review the hub). Per node: degree, incident
    * triangles, and clustering = 2T/(d(d−1)).
    *
    * Scale shape — the standard distributed node-iterator: edges are
    * canonical (a<b) from the MEMOIZED q22 pair list, wedges come from
    * ONE edge-keyed equi-join (e1.b = e2.a, so a<b<c by construction and
    * each triangle is generated exactly once), closed by a left-semi
    * probe of the edge list; per-node counts explode each triangle to
    * its 3 corners and hash-aggregate. Every join keys on node ids; the
    * wedge stream is Σdeg² — the inherent cost of exact triangle
    * counting — and nothing is quadratic in nodes.
    */
  def q119Triangles(s: SparkSession, dir: String): DataFrame = {
    val e = q22Cached(s, dir).select(col("doc_a"), col("doc_b"))
    val deg = e.select(col("doc_a").as("doc"))
      .union(e.select(col("doc_b").as("doc")))
      .groupBy(col("doc")).agg(count(lit(1)).as("degree"))
    val tri = e.as("e1").join(e.as("e2"), col("e1.doc_b") === col("e2.doc_a"))
      .select(col("e1.doc_a").as("a"), col("e1.doc_b").as("b"), col("e2.doc_b").as("c"))
      .join(e.as("e3"),
        col("a") === col("e3.doc_a") && col("c") === col("e3.doc_b"), "left_semi")
    val perNode = tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc"))
      .groupBy(col("doc")).agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("doc"), "left")
      .select(col("doc"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("degree") >= 2, round(lit(2.0) * coalesce(col("n_tri"), lit(0L))
          / (col("degree") * (col("degree") - 1)).cast("double"), 6)).as("clustering"))
      .orderBy(col("doc"))
  }

  val q119Sql: String =
    s"""WITH RECURSIVE $sqlComponentsCtes,
       |e AS (SELECT doc_a, doc_b FROM near),
       |deg AS (
       |  SELECT doc, CAST(count(*) AS BIGINT) AS degree FROM (
       |    SELECT doc_a AS doc FROM e UNION ALL SELECT doc_b FROM e)
       |  GROUP BY doc),
       |tri AS (
       |  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
       |  FROM e e1 JOIN e e2 ON e1.doc_b = e2.doc_a
       |  WHERE EXISTS (SELECT 1 FROM e e3
       |                WHERE e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b)),
       |pn AS (
       |  SELECT doc, CAST(count(*) AS BIGINT) AS n_tri FROM (
       |    SELECT unnest([a, b, c]) AS doc FROM tri)
       |  GROUP BY doc)
       |SELECT deg.doc AS doc, degree,
       | COALESCE(n_tri, CAST(0 AS BIGINT)) AS n_tri,
       | CASE WHEN degree >= 2 THEN ROUND(2.0 * COALESCE(n_tri, 0)
       |   / CAST(degree * (degree - 1) AS DOUBLE), 6) END AS clustering
       |FROM deg LEFT JOIN pn ON deg.doc = pn.doc
       |ORDER BY deg.doc""".stripMargin

  // ---------------------------------------------------------------- q121

  /** q121: incremental near-dup STATE FOLD — the update step q108 stops
    * short of. q108 classifies a delta batch (`doc_id % 10 = 3`) against
    * the base corpus; this operator FOLDS the delta into the persisted
    * dedup state: component labels are re-converged incrementally and the
    * keeper flag re-derived, producing the exact labels a from-scratch
    * q45 over base∪delta would — without ever re-running propagation over
    * the base×base graph.
    *
    * Algorithm (the standard incremental-connected-components fold):
    *   1. NEW EDGES: the delta's prefix rows probe the corpus prefix
    *      index (q22's PPJoin machinery with the probe side restricted to
    *      delta docs — delta-sized fan-out, never index×index), exact
    *      Jaccard verify. Every new pair touches ≥1 delta doc.
    *   2. CONDENSE: each new-edge endpoint maps to its base component
    *      label (or itself when previously unlabeled). Base components
    *      are contracted to single nodes, so the fold graph has one node
    *      per TOUCHED component or new doc — delta-sized, not
    *      corpus-sized.
    *   3. RE-CONVERGE: the same min-label propagation as q45 runs on the
    *      condensed graph only. Because a base label IS the min id of its
    *      component, the min over condensed node ids equals the min over
    *      all member ids — so remapping `comp → foldComp(comp)` yields
    *      exactly the from-scratch labels (the oracle recomputes from
    *      scratch; the hash match is the proof the shortcut loses
    *      nothing).
    *
    * Output: every doc in the base∪delta near-dup graph with its new
    * label, origin (base/delta), fold status (`unchanged` — component
    * untouched; `relabeled` — component merged under a smaller id; `new`
    * — doc entered the graph this increment), and the re-derived
    * canonical-keeper flag.
    *
    * Scale: per-increment cost is O(delta prefix probe + new-pair verify
    * + touched-component propagation). The base labels are read as state
    * (stood in by a propagation over the memoized pair list's base-base
    * pairs, since the harness persists nothing between runs — same
    * declaration as q108's index); the base×base quadrant is never
    * re-joined and the fold propagation never sees an untouched
    * component.
    */
  def q121StateFold(s: SparkSession, dir: String): DataFrame = {
    val isDelta = col("doc_id") % 10 === 3
    // per-increment probe: delta prefixes vs the full prefix index (the
    // persisted index substrate, reconstructed per run and shared with
    // q22 through the ordered-sets memo)
    val pref = jaccardPrefixOf(orderedSetsCached(s, dir))
    val cand = pref.filter(isDelta).as("d")
      .join(pref.as("i"), col("d.shingle") === col("i.shingle")
        && col("d.doc_id") =!= col("i.doc_id"))
      .select(least(col("d.doc_id"), col("i.doc_id")).as("doc_a"),
        greatest(col("d.doc_id"), col("i.doc_id")).as("doc_b"))
      .distinct()
    val newPairs = jaccardVerified(fanOut(cand), shingleSets(s, dir))
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
    // persisted base state: labels over the base-only graph
    val baseOnly = q22Cached(s, dir)
      .filter(col("doc_a") % 10 =!= 3 && col("doc_b") % 10 =!= 3)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
    val baseLabels = minLabelPropagation(baseOnly).localCheckpoint(true)
    // condense: endpoint → its base component (or itself when unlabeled)
    val la = baseLabels.select(col("doc").as("la_doc"), col("comp").as("la_comp"))
    val lb = baseLabels.select(col("doc").as("lb_doc"), col("comp").as("lb_comp"))
    val condensed = newPairs
      .join(la, col("doc_a") === col("la_doc"), "left")
      .join(lb, col("doc_b") === col("lb_doc"), "left")
      .select(coalesce(col("la_comp"), col("doc_a")).as("doc_a"),
        coalesce(col("lb_comp"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
      .distinct()
      .localCheckpoint(true)
    val foldMap = minLabelPropagation(condensed)
      .select(col("doc").as("node"), col("comp").as("fcomp"))
    // base docs remapped through the fold; new-edge endpoints not in the
    // base state enter the graph with their fold label
    val fromBase = baseLabels
      .join(foldMap, col("comp") === col("node"), "left")
      .select(col("doc"), coalesce(col("fcomp"), col("comp")).as("new_comp"),
        col("comp").as("old_comp"))
    val fromNew = newPairs.select(col("doc_a").as("doc"))
      .union(newPairs.select(col("doc_b").as("doc")))
      .distinct()
      .join(baseLabels.select(col("doc")), Seq("doc"), "left_anti")
      .join(foldMap, col("doc") === col("node"), "left")
      .select(col("doc"), coalesce(col("fcomp"), col("doc")).as("new_comp"),
        lit(null).cast("long").as("old_comp"))
    fromBase.union(fromNew)
      .select(col("doc"), col("new_comp").as("comp"),
        when(col("doc") % 10 === 3, "delta").otherwise("base").as("origin"),
        when(col("old_comp").isNull, "new")
          .when(col("old_comp") === col("new_comp"), "unchanged")
          .otherwise("relabeled").as("status"),
        (col("doc") === col("new_comp")).as("is_keeper"))
      .orderBy(col("doc"))
  }

  /** Oracle: the FULL from-scratch recompute on base∪delta — q45's
    * recursive labels over the whole corpus — joined against a second
    * recursive pass restricted to base-base edges (yesterday's state) to
    * derive the fold status. The hash match proves
    * incremental-fold ≡ from-scratch.
    */
  val q121Sql: String =
    s"""WITH RECURSIVE $sqlComponentsCtes,
       |near_b AS (
       |  SELECT doc_a, doc_b FROM near WHERE doc_a % 10 <> 3 AND doc_b % 10 <> 3),
       |edges_b AS (
       |  SELECT doc_a, doc_b FROM near_b
       |  UNION ALL SELECT doc_b, doc_a FROM near_b),
       |reach_b AS (
       |  SELECT DISTINCT doc_a AS doc, doc_a AS r FROM edges_b
       |  UNION
       |  SELECT reach_b.doc, edges_b.doc_b AS r
       |  FROM reach_b JOIN edges_b ON reach_b.r = edges_b.doc_a),
       |labels_b AS (SELECT doc, min(r) AS comp FROM reach_b GROUP BY doc)
       |SELECT l.doc, l.comp,
       | CASE WHEN l.doc % 10 = 3 THEN 'delta' ELSE 'base' END AS origin,
       | CASE WHEN b.comp IS NULL THEN 'new'
       |      WHEN b.comp = l.comp THEN 'unchanged'
       |      ELSE 'relabeled' END AS status,
       | l.doc = l.comp AS is_keeper
       |FROM labels l LEFT JOIN labels_b b ON l.doc = b.doc
       |ORDER BY l.doc""".stripMargin

  // ---------------------------------------------------------------- q126

  /** q126: index RETIREMENT — the deletion half of the incremental
    * lifecycle (q108 classifies arrivals, q121 folds them in, this
    * retires a batch). Documents `doc_id % 10 = 7` leave the corpus
    * (takedowns, robots.txt revocations, retention expiry); the dedup
    * state must update WITHOUT a global recompute. Deletion is the hard
    * direction: removing a vertex can SPLIT its component, so unlike
    * q121's monotone merge there is no algebraic shortcut — but the blast
    * radius is still bounded: a component with no retired member keeps
    * exactly its members, edges, and (min-id) label, so only TOUCHED
    * components re-converge.
    *
    *   1. touched = distinct labels of the retired docs (tiny);
    *   2. untouched components pass through by a broadcast anti-join;
    *   3. the touched components' surviving edges (neither endpoint
    *      retired) re-run q45's min-label propagation — a subgraph
    *      bounded by the touched components' size, not the corpus;
    *      survivors left edge-less drop out of the graph (q45's
    *      nodes-are-edge-endpoints convention).
    *
    * Output: every doc in the post-retirement graph with its label, the
    * re-derived keeper flag, and status — `untouched` (component had no
    * retirement), `reconverged` (component recomputed, label kept),
    * `relabeled` (label changed: the old min retired, or the component
    * split). Oracle: the from-scratch recompute on the filtered corpus —
    * pairwise Jaccard does not depend on other documents, so the
    * filtered graph is exactly `near` minus retired endpoints; the hash
    * match proves the touched-only shortcut loses nothing.
    */
  def q126Retire(s: SparkSession, dir: String): DataFrame = {
    val labels = componentLabels(s, dir)
    val isRetired = (c: org.apache.spark.sql.Column) => c % 10 === 7
    val touched = labels.filter(isRetired(col("doc")))
      .select(col("comp")).distinct().localCheckpoint(true)
    val untouched = labels.join(broadcast(touched), Seq("comp"), "left_anti")
      .select(col("doc"), col("comp"), lit("untouched").as("status"))
    // surviving intra-component edges of the touched components only
    val touchedPairs = q22Cached(s, dir)
      .select(col("doc_a"), col("doc_b"))
      .filter(!isRetired(col("doc_a")) && !isRetired(col("doc_b")))
      .join(labels.select(col("doc").as("doc_a"), col("comp")), Seq("doc_a"))
      .join(broadcast(touched), Seq("comp"), "left_semi")
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint(true)
    val re = minLabelPropagation(touchedPairs)
    val reStatus = re
      .join(labels.select(col("doc"), col("comp").as("old_comp")), Seq("doc"))
      .select(col("doc"), col("comp"),
        when(col("comp") === col("old_comp"), "reconverged")
          .otherwise("relabeled").as("status"))
    untouched.union(reStatus)
      .select(col("doc"), col("comp"), col("status"),
        (col("doc") === col("comp")).as("is_keeper"))
      .orderBy(col("doc"))
  }

  /** Oracle: from-scratch labels on the corpus minus the retired docs
    * (edges = `near` minus retired endpoints — pairwise Jaccard is
    * independent of the rest of the corpus), statused against the full
    * pre-retirement labels.
    */
  val q126Sql: String =
    s"""WITH RECURSIVE $sqlComponentsCtes,
       |near_f AS (
       |  SELECT doc_a, doc_b FROM near WHERE doc_a % 10 <> 7 AND doc_b % 10 <> 7),
       |edges_f AS (
       |  SELECT doc_a, doc_b FROM near_f
       |  UNION ALL SELECT doc_b, doc_a FROM near_f),
       |reach_f AS (
       |  SELECT DISTINCT doc_a AS doc, doc_a AS r FROM edges_f
       |  UNION
       |  SELECT reach_f.doc, edges_f.doc_b AS r
       |  FROM reach_f JOIN edges_f ON reach_f.r = edges_f.doc_a),
       |labels_f AS (SELECT doc, min(r) AS comp FROM reach_f GROUP BY doc),
       |touched AS (SELECT DISTINCT comp FROM labels WHERE doc % 10 = 7)
       |SELECT f.doc, f.comp,
       | CASE WHEN l.comp NOT IN (SELECT comp FROM touched) THEN 'untouched'
       |      WHEN f.comp = l.comp THEN 'reconverged'
       |      ELSE 'relabeled' END AS status,
       | f.doc = f.comp AS is_keeper
       |FROM labels_f f JOIN labels l ON f.doc = l.doc
       |ORDER BY f.doc""".stripMargin

  // ---------------------------------------------------------------- q127

  /** q127: near-dup cluster PROFILE — per-component structural report
    * over the dedup graph: member count, intra-edge count, edge density
    * (observed / C(n,2) possible), and the mean/min exact Jaccard of the
    * component's edges. This is the triage view an operator of a dedup
    * pipeline reads before acting on a cluster: density ≈ 1 + high min
    * Jaccard ⟹ a true duplicate pile (keep one); low density or a weak
    * minimum ⟹ a chain glued by borderline pairs (q45's transitive
    * closure over-merged — tighten the threshold or split manually).
    *
    * Scale shape: pure memo-rider — the pair list (with verified
    * Jaccard) and the labels already exist; one id-keyed join attaches
    * the component to each edge, one component-sized aggregate each for
    * edges and members, and a component-keyed join assembles the report.
    * Nothing corpus-sized moves.
    */
  def q127ClusterProfile(s: SparkSession, dir: String): DataFrame = {
    val labels = componentLabels(s, dir)
    val sizes = labels.groupBy(col("comp")).agg(count(lit(1)).as("n_docs"))
    val edges = q22Cached(s, dir)
      .select(col("doc_a").as("doc"), col("jaccard"))
      .join(labels, Seq("doc"))
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("n_edges"),
        round(avg(col("jaccard")), 6).as("mean_jaccard"),
        min(col("jaccard")).as("min_jaccard"))
    sizes.join(edges, Seq("comp"))
      .select(col("comp"), col("n_docs"), col("n_edges"),
        round(col("n_edges").cast("double") * 2.0
          / (col("n_docs") * (col("n_docs") - 1)).cast("double"), 6).as("density"),
        col("mean_jaccard"), col("min_jaccard"))
      .orderBy(col("comp"))
  }

  /** Oracle: rebuilds the edge Jaccards from `inter`/`sz` (in scope from
    * the shared components CTE block) and aggregates per label. */
  val q127Sql: String =
    s"""WITH RECURSIVE $sqlComponentsCtes,
       |ej AS (
       |  SELECT i.doc_a, i.doc_b,
       |   ROUND(CAST(i.inter AS DOUBLE) / CAST(sa.n + sb.n - i.inter AS DOUBLE), 6) AS j
       |  FROM inter i
       |   JOIN sz sa ON i.doc_a = sa.doc_id
       |   JOIN sz sb ON i.doc_b = sb.doc_id
       |  WHERE CAST(i.inter AS DOUBLE) / CAST(sa.n + sb.n - i.inter AS DOUBLE) >= $JaccardT),
       |sizes AS (SELECT comp, CAST(count(*) AS BIGINT) AS n_docs FROM labels GROUP BY comp),
       |eagg AS (
       |  SELECT l.comp, CAST(count(*) AS BIGINT) AS n_edges,
       |   ROUND(avg(j), 6) AS mean_jaccard, min(j) AS min_jaccard
       |  FROM ej JOIN labels l ON ej.doc_a = l.doc
       |  GROUP BY l.comp)
       |SELECT s.comp AS comp, n_docs, n_edges,
       | ROUND(CAST(n_edges AS DOUBLE) * 2.0 / (n_docs * (n_docs - 1)), 6) AS density,
       | mean_jaccard, min_jaccard
       |FROM sizes s JOIN eagg e ON s.comp = e.comp
       |ORDER BY s.comp""".stripMargin

  // ---------------------------------------------------------------- q154

  /** Containment threshold for q154. */
  val ContainT: Double = 0.8

  /** q154: asymmetric CONTAINMENT join — quote/excerpt detection, the
    * subset relation Jaccard structurally misses: a short document fully
    * quoted inside a long one has containment |A∩B|∕|A| ≈ 1 but Jaccard
    * ≈ |A|∕|B| ≈ 0, so q22's symmetric near-dup join never surfaces it.
    * Output is ORDERED pairs (doc_a contained-in doc_b) at containment
    * ≥ [[ContainT]], with the exact overlap.
    *
    * Candidate generation is the containment variant of q22's prefix
    * filter, and the asymmetry is the point: the CONTAINED side probes
    * with only its n − ⌈t·n⌉ + 1 rarest shingles (pigeonhole: a
    * container holding ≥ ⌈t·n⌉ of A's shingles cannot miss that prefix),
    * while the CONTAINER side must stay fully indexed — no prefix
    * reduction exists for it, because a container's own size places no
    * bound on the containment score. The index side IS length-filtered
    * at candidate time, though: inter ≤ n_b, so containment ≥ t forces
    * n_b ≥ ⌈t·n_a⌉, and any shorter container is discarded inside the
    * shingle join — before the distinct and the set-intersection verify
    * — which bounds the verify fan-out of high-df shingle buckets
    * without losing a single true pair. Everything reuses the memoized
    * rarest-first ordered sets (one build per session, shared with
    * q22/q121); the probe↔index join is shingle-keyed, the verify an
    * id-keyed equi-join against the full sets, exactly q22's shape. The
    * oracle computes every shingle-sharing ordered pair directly, so the
    * hash compare doubles as the prefix filter's zero-false-negative
    * proof at this threshold.
    */
  def q154Containment(s: SparkSession, dir: String): DataFrame =
    containmentPipeline(s, dir, Long.MaxValue)

  /** The containment pipeline shared by q154 (uncapped) and q206 (df cap
    * on the indexed side): [[containmentCandidates]], then the shared
    * set-overlap verify ([[withOverlap]]) against the full sets, kept at
    * containment inter / n_a ≥ [[ContainT]] on the unrounded ratio.
    */
  private def containmentPipeline(s: SparkSession, dir: String,
      dfCap: Long): DataFrame =
    withOverlap(fanOut(containmentCandidates(s, dir, dfCap)), shingleSets(s, dir))
      .withColumn("cont_raw", col("inter").cast("double") / col("sa.n").cast("double"))
      .filter(col("cont_raw") >= ContainT)
      .select(col("doc_a"), col("doc_b"), col("sa.n").as("n_a"), col("inter"),
        round(col("cont_raw"), 6).as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** q154/q206's candidates, un-materialized (package-visible for
    * PlanSpec's candidate-join pins): prefix-filtered probe, full-or-capped
    * container index, candidate-time length filter, deduped to ordered
    * (doc_a, doc_b) id pairs. The cap, like q158's ([[jaccardPrefixOf]]),
    * filters AFTER the prefix cut so prefix positions stay defined on the
    * full rarest-first order — the retention theorem depends on it.
    */
  private[graft] def containmentCandidates(s: SparkSession, dir: String,
      dfCap: Long): DataFrame = {
    val ordered = orderedSetsCached(s, dir)
    val p = (col("n") - ceil(col("n") * ContainT) + 1).cast("int")
    val probe0 = ordered.select(col("doc_id").as("doc_a"), col("n").as("n_a_p"),
      explode(slice(col("ord"), lit(1), p)).as("e"))
    // probe-side cap is semantically REDUNDANT given the index cap (an
    // inner join on the shingle key dies anyway when the index bucket is
    // empty) but prunes the probe explode before it ever shuffles
    val probe = (if (dfCap == Long.MaxValue) probe0
                 else probe0.filter(col("e.df") <= dfCap))
      .select(col("doc_a"), col("n_a_p"), col("e.shingle").as("shingle"))
    val index0 = ordered.select(col("doc_id").as("doc_b"), col("n").as("n_b_i"),
      explode(col("ord")).as("e"))
    val index = (if (dfCap == Long.MaxValue) index0
                 else index0.filter(col("e.df") <= dfCap))
      .select(col("doc_b"), col("n_b_i"), col("e.shingle").as("shingle"))
    // Candidate-time length filter: containment ≥ t needs inter ≥ ⌈t·n_a⌉,
    // and inter ≤ n_b always, so a container shorter than ⌈t·n_a⌉ can never
    // qualify. Filtering HERE — inside the shingle join, before the
    // distinct and the array_intersect verify — bounds the fan-out of a
    // hot shingle's df-sized index bucket: each (probe row × bucket entry)
    // pair dies on a 2-int compare instead of surviving to a set verify.
    // Zero false negatives by the inequality above, so the oracle hash
    // (which checks every shingle-sharing pair) is unchanged.
    probe.join(index, Seq("shingle"))
      .filter(col("doc_a") =!= col("doc_b") &&
        col("n_b_i") >= ceil(col("n_a_p") * ContainT))
      .select(col("doc_a"), col("doc_b")).distinct()
  }

  val q154Sql: String =
    s"""WITH $sqlShingles,
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, sa.n AS n_a, inter,
       | ROUND(CAST(inter AS DOUBLE) / sa.n, 6) AS containment
       |FROM inter
       |JOIN sz sa ON sa.doc_id = doc_a
       |WHERE CAST(inter AS DOUBLE) / sa.n >= $ContainT
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q206

  /** Document-frequency cap for q206's container-side index (the q158
    * knob applied to the containment join). Deliberately small — the
    * demo-cap convention — so the approximation path is exercised at the
    * gate corpora; the oracle embeds the same cap.
    */
  val ContainDfCap: Long = 3L

  /** q206: the CONTAINMENT join under a df cap on the container index —
    * the q158 treatment applied to q154, closing q154's measured scale
    * cliff (the r18 sf1-realistic sweep: 55.9 s vs 3.9 s on the
    * stress-uniform geometry, because q154's container side is FULLY
    * indexed and a boilerplate-heavy shingle df tail multiplies its
    * verify fan-out — exactly the regime the df cap bounds).
    *
    * With cap C the index keeps only shingles of df ≤ C, so every index
    * bucket holds ≤ C rows — per-shingle join fan-out is bounded by a
    * CONSTANT at any corpus scale. The price is a DECLARED approximation
    * with the same exact retention theorem as q158: the containment
    * prefix theorem puts a qualifying pair's RAREST common shingle in
    * the contained doc's prefix (if it fell outside, ALL ≥ ⌈t·n_a⌉
    * common shingles would crowd into the last ⌈t·n_a⌉ − 1 positions —
    * pigeonhole), and a rarest common shingle with df ≤ C survives the
    * capped index, so every pair whose rarest common shingle has df ≤ C
    * is retained (pinned by DedupSpec). Only pairs ALL of whose common
    * shingles are viral can be shed — the boilerplate-only quotes a
    * capped production index means to drop. The cap filters AFTER the
    * prefix cut (positions stay defined on the full rarest-first order,
    * q158's load-bearing detail), the candidate-time length filter
    * n_b ≥ ⌈t·n_a⌉ stays lossless, and the oracle replays the identical
    * cap/order/prefix cut, so engine ≡ oracle is deterministic even
    * where pairs are dropped.
    */
  def q206ContainmentDfCap(s: SparkSession, dir: String): DataFrame =
    containmentPipeline(s, dir, ContainDfCap)

  /** q206's oracle: the q158-style exact replay of the capped pipeline —
    * rarest-first order, prefix cut, df cap on BOTH the probe prefix and
    * the container index (the probe-side cap is redundant under an inner
    * join but mirrored for clarity), exact full-set verify. The length
    * filter is lossless (containment ≥ t forces inter ≥ ⌈t·n_a⌉ ≤ n_b),
    * so the oracle omits it: pairs it would remove cannot pass the final
    * containment filter either way.
    */
  val q206Sql: String =
    s"""WITH $sqlShingles,
       |dfq AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY s),
       |ord AS (
       |  SELECT sh.doc_id, sh.s, dfq.df,
       |   row_number() OVER (PARTITION BY sh.doc_id ORDER BY dfq.df, sh.s) AS rn
       |  FROM sh JOIN dfq ON sh.s = dfq.s),
       |pref AS (
       |  SELECT o.doc_id, o.s FROM ord o JOIN sz ON o.doc_id = sz.doc_id
       |  WHERE o.rn <= sz.n - CEIL(sz.n * $ContainT) + 1 AND o.df <= $ContainDfCap),
       |idx AS (SELECT doc_id, s FROM ord WHERE df <= $ContainDfCap),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM pref a JOIN idx b ON a.s = b.s AND a.doc_id <> b.doc_id),
       |iv AS (
       |  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS inter
       |  FROM cand c
       |   JOIN sh a ON a.doc_id = c.doc_a
       |   JOIN sh b ON b.doc_id = c.doc_b AND a.s = b.s
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, sa.n AS n_a, inter,
       | ROUND(CAST(inter AS DOUBLE) / sa.n, 6) AS containment
       |FROM iv
       |JOIN sz sa ON sa.doc_id = doc_a
       |WHERE CAST(inter AS DOUBLE) / sa.n >= $ContainT
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------- q166

  /** Max edit distance for a q166 name-variant match. */
  val FuzzyMaxDist: Int = 3

  /** q166: ENTITY-RESOLUTION fuzzy linkage — blocked edit-distance
    * matching over the `part` catalog. Every dedup operator above compares
    * TOKEN SETS (Jaccard/MinHash/SimHash are order- and typo-insensitive);
    * this is the complementary record-linkage primitive for SHORT STRINGS,
    * where a one-character typo must still match and token sets are too
    * coarse ("red widget" vs "rad widget" share no tokens). The classic
    * three-phase shape (exact collapse, then Fellegi–Sunter blocking +
    * distance verify):
    *
    *   1. COLLAPSE: records with the IDENTICAL surface form reduce to one
    *      (form, members, exemplar) row first — exact duplicates are the
    *      exact-dedup family's job (q21), and carrying them into a
    *      pairwise stage would make the OUTPUT quadratic in the group
    *      sizes (measured: the record-level formulation emitted 23M pairs
    *      from 200k rows at sf1 because the catalog has 64 surface forms).
    *      After the collapse every downstream cost is bounded by the
    *      DISTINCT-FORM vocabulary, which grows ~Heaps-law, not by rows.
    *   2. BLOCK: candidate form pairs must agree on a cheap deterministic
    *      key — here (last name token, p_size), the category word plus an
    *      exact attribute. An ordinary shuffle equi-join: the pair space
    *      is Σ_b C(forms_b, 2), never records².
    *   3. VERIFY: `levenshtein` (a codegen'd built-in both engines share)
    *      ≤ [[FuzzyMaxDist]], pairs oriented n1 < n2 (so dist ≥ 1 by
    *      construction — exact matches were collapsed, near-misses only).
    *
    * Each linked pair ships both member counts and exemplar keys, so the
    * record-level mapping is recoverable by joining the collapse mapping
    * back — the standard warehouse shape (link surface forms once, apply
    * to the row stream as a broadcast dictionary). At billion-row
    * catalogs the block key gains a second attribute (brand, adjective
    * prefix) exactly like the df-cap ladder in q158 — the join SHAPE is
    * unchanged. No cartesian, no UDF, no window.
    */
  def q166FuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    val forms = part(s, dir)
      .select(col("p_partkey"), col("p_name"), col("p_size"),
        element_at(words(col("p_name")), -1).as("block"))
      .groupBy(col("block"), col("p_size").as("sz"), col("p_name"))
      .agg(count(lit(1)).as("members"), min(col("p_partkey")).as("exemplar"))
    val a = forms.select(col("block"), col("sz"), col("p_name").as("n1"),
      col("members").as("m1"), col("exemplar").as("k1"))
    val b = forms.select(col("block"), col("sz"), col("p_name").as("n2"),
      col("members").as("m2"), col("exemplar").as("k2"))
    a.join(b, Seq("block", "sz"))
      .filter(col("n1") < col("n2"))
      .withColumn("dist", levenshtein(col("n1"), col("n2")).cast("long"))
      .filter(col("dist") <= FuzzyMaxDist)
      .select(col("sz"), col("n1"), col("n2"), col("m1"), col("m2"),
        col("k1"), col("k2"), col("dist"))
      .orderBy(col("sz"), col("n1"), col("n2"))
  }

  val q166Sql: String =
    s"""WITH p AS (
       |  SELECT p_partkey, p_name, p_size,
       |   list_extract(${wordsSql("p_name")}, -1) AS block
       |  FROM part),
       |f AS (
       |  SELECT block, p_size AS sz, p_name,
       |   CAST(count(*) AS BIGINT) AS members, MIN(p_partkey) AS exemplar
       |  FROM p GROUP BY 1, 2, 3)
       |SELECT a.sz, a.p_name AS n1, b.p_name AS n2,
       | a.members AS m1, b.members AS m2,
       | a.exemplar AS k1, b.exemplar AS k2,
       | CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
       |FROM f a JOIN f b
       |  ON a.block = b.block AND a.sz = b.sz AND a.p_name < b.p_name
       |WHERE levenshtein(a.p_name, b.p_name) <= $FuzzyMaxDist
       |ORDER BY a.sz, n1, n2""".stripMargin

  // ---------------------------------------------------------------- q167

  /** q167: MULTI-PASS blocking for the fuzzy linkage — the standard ER
    * recall repair for q166's declared loss. A single blocking key can
    * never see a typo INSIDE the key itself (q166 blocks on the category
    * noun, so "red bolt" ~ "red rod" — noun distance 3 — is invisible to
    * it). Production entity resolution therefore runs k INDEPENDENT
    * blocking passes and unions their candidate sets (Fellegi–Sunter
    * practice; each pass is cheap, the union's recall is 1−Π miss-rates).
    * Here: pass A blocks on (noun, size) — q166's key — and pass B on
    * (adjective, size), so a pair survives as long as EITHER name token
    * is typo-free. The output ships per-pair provenance flags
    * (by_noun / by_adj): the blocking-recall audit a pipeline reads to
    * decide whether another pass is worth its candidates.
    *
    * Scale shape: both passes run on the COLLAPSED surface-form table
    * (q166's phase-1 bound — vocabulary-sized, never rows), each as an
    * ordinary equi-join; the union aggregates on the pair key to merge
    * flags. Cost is additive in passes, candidates stay Σ_b C(forms_b,2)
    * per pass. No cartesian, no window, no UDF.
    */
  def q167MultiBlock(s: SparkSession, dir: String): DataFrame = {
    val ws = words(col("p_name"))
    val forms = part(s, dir)
      .select(col("p_partkey"), col("p_name"), col("p_size"),
        element_at(ws, 1).as("adj"), element_at(ws, -1).as("noun"))
      .groupBy(col("adj"), col("noun"), col("p_size").as("sz"), col("p_name"))
      .agg(count(lit(1)).as("members"))
    def pass(key: String, byNoun: Boolean) = {
      val a = forms.select(col(key), col("sz"), col("p_name").as("n1"),
        col("members").as("m1"))
      val b = forms.select(col(key), col("sz"), col("p_name").as("n2"),
        col("members").as("m2"))
      a.join(b, Seq(key, "sz"))
        .filter(col("n1") < col("n2"))
        .withColumn("dist", levenshtein(col("n1"), col("n2")).cast("long"))
        .filter(col("dist") <= FuzzyMaxDist)
        .select(col("sz"), col("n1"), col("n2"), col("m1"), col("m2"), col("dist"),
          lit(byNoun).as("by_noun"), lit(!byNoun).as("by_adj"))
    }
    pass("noun", byNoun = true).unionByName(pass("adj", byNoun = false))
      .groupBy(col("sz"), col("n1"), col("n2"))
      .agg(min(col("m1")).as("m1"), min(col("m2")).as("m2"),
        min(col("dist")).as("dist"),
        bool_or(col("by_noun")).as("by_noun"), bool_or(col("by_adj")).as("by_adj"))
      .orderBy(col("sz"), col("n1"), col("n2"))
  }

  val q167Sql: String =
    s"""WITH p AS (
       |  SELECT p_partkey, p_name, p_size,
       |   list_extract(${wordsSql("p_name")}, 1) AS adj,
       |   list_extract(${wordsSql("p_name")}, -1) AS noun
       |  FROM part),
       |f AS (
       |  SELECT adj, noun, p_size AS sz, p_name, CAST(count(*) AS BIGINT) AS members
       |  FROM p GROUP BY 1, 2, 3, 4),
       |cand AS (
       |  SELECT a.sz, a.p_name AS n1, b.p_name AS n2, a.members AS m1, b.members AS m2,
       |   CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
       |   TRUE AS by_noun, FALSE AS by_adj
       |  FROM f a JOIN f b ON a.noun = b.noun AND a.sz = b.sz AND a.p_name < b.p_name
       |  WHERE levenshtein(a.p_name, b.p_name) <= $FuzzyMaxDist
       |  UNION ALL
       |  SELECT a.sz, a.p_name, b.p_name, a.members, b.members,
       |   CAST(levenshtein(a.p_name, b.p_name) AS BIGINT),
       |   FALSE, TRUE
       |  FROM f a JOIN f b ON a.adj = b.adj AND a.sz = b.sz AND a.p_name < b.p_name
       |  WHERE levenshtein(a.p_name, b.p_name) <= $FuzzyMaxDist)
       |SELECT sz, n1, n2, MIN(m1) AS m1, MIN(m2) AS m2, MIN(dist) AS dist,
       | bool_or(by_noun) AS by_noun, bool_or(by_adj) AS by_adj
       |FROM cand GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  // ---------------------------------------------------------------- q181

  /** BFS rounds for the chain-depth audit — a fixed-round contract: a
    * doc more than this many hops from its canonical reports -1 ("deep
    * chain"), in BOTH engines. Duplicate chains glued by borderline
    * pairs rarely exceed a handful of hops; a -1 is itself the finding.
    */
  val DupDepthRounds: Int = 8

  /** q181: duplicate-chain depth — per near-dup-graph doc, the hop
    * distance to its component's canonical (q45's min-id). This is the
    * diagnostic behind q45's transitive-closure caveat: A collapses
    * into C's cluster without ever being compared to C when a chain of
    * borderline pairs glues them, and the HOP DEPTH is how much
    * transitive trust the dedup decision rests on (depth 1 = directly
    * verified against the canonical; depth 3 = three borderline links
    * deep; -1 = deeper than [[DupDepthRounds]]). Pairs with q127's
    * borderline-chain profile the way q94's audit pairs with q21.
    *
    * Plan shape: [[DupDepthRounds]] rounds of (frontier ⋈ edges →
    * doc-keyed min) over the component node set — O(E) per round, the
    * min-plus analogue of q45's hash-min rounds, on the SAME memoized
    * edge list and labels, so the audit adds no new corpus scan. The
    * oracle unrolls the identical rounds (explicit CASE min — LEAST's
    * null semantics differ across engines, so neither side uses it).
    */
  def q181DupDepth(s: SparkSession, dir: String): DataFrame = {
    val pairs = q22Cached(s, dir).select(col("doc_a"), col("doc_b"))
    chainDepths(pairs, componentLabels(s, dir)).orderBy(col("doc"))
  }

  /** The capped min-plus BFS on an undirected pair list + (doc, comp)
    * labels — factored so the depth-cap path (-1, and depths ≥ 2 the
    * corpus fixtures don't exhibit) is drivable on synthetic chains in
    * DedupSpec.
    */
  private[graft] def chainDepths(pairs: DataFrame, labels: DataFrame): DataFrame = {
    val edges = symmetricEdges(pairs).localCheckpoint(true) // read every BFS round
    var dist = labels.select(col("doc"), col("comp"),
        when(col("doc") === col("comp"), lit(0L))
          .otherwise(lit(null).cast("long")).as("dist"))
      .localCheckpoint(true)
    // Early exit at the FIXED POINT (r19-opt): if a round improves no
    // distance, every later round sees the identical `dist` input and
    // recomputes the identical no-op — so stopping there returns exactly
    // the round-[[DupDepthRounds]] frame (the -1 cap semantics are
    // untouched: a node deeper than the cap only ever gets a distance if
    // some round ≤ cap improves it, and a depth->cap graph changes
    // something every round so all rounds still run). The corpus
    // fixtures' chains converge in 1–2 hops, so this skips most of the
    // 8 contract rounds' join+aggregate+checkpoint jobs; the convergence
    // probe is one take(1) on the already-checkpointed frame per round.
    var converged = false
    for (_ <- 1 to DupDepthRounds if !converged) {
      val nd = edges
        .join(dist.filter(col("dist").isNotNull)
          .select(col("doc").as("doc_a"), col("dist")), Seq("doc_a"))
        .groupBy(col("doc_b").as("doc")).agg(min(col("dist") + 1).as("nd"))
      val merged = dist.join(nd, Seq("doc"), "left")
        .select(col("doc"), col("comp"),
          when(col("dist").isNull, col("nd"))
            .when(col("nd").isNull, col("dist"))
            .when(col("nd") < col("dist"), col("nd"))
            .otherwise(col("dist")).as("dist"),
          // improvement flag: new distance where there was none, or smaller
          (col("dist").isNull && col("nd").isNotNull ||
            col("nd") < col("dist")).as("chg"))
        .localCheckpoint(true)
      converged = merged.filter(col("chg")).isEmpty
      dist = merged.drop("chg")
    }
    dist.select(col("doc"), col("comp"), coalesce(col("dist"), lit(-1L)).as("hops"))
  }

  val q181Sql: String = {
    val rounds = (1 to DupDepthRounds).map { r =>
      val prev = s"d${r - 1}"
      s"""m$r AS (
         |  SELECT e.doc_b AS doc, min(d.dist + 1) AS nd
         |  FROM edges e JOIN $prev d ON d.doc = e.doc_a
         |  WHERE d.dist IS NOT NULL GROUP BY e.doc_b),
         |d$r AS MATERIALIZED (
         |  SELECT d.doc, d.comp,
         |   CASE WHEN d.dist IS NULL THEN m.nd
         |        WHEN m.nd IS NULL THEN d.dist
         |        WHEN m.nd < d.dist THEN m.nd ELSE d.dist END AS dist
         |  FROM $prev d LEFT JOIN m$r m ON d.doc = m.doc)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE $sqlComponentsCtes,
       |d0 AS MATERIALIZED (
       |  SELECT doc, comp,
       |   CASE WHEN doc = comp THEN CAST(0 AS BIGINT) END AS dist
       |  FROM labels),
       |$rounds
       |SELECT doc, comp, COALESCE(dist, CAST(-1 AS BIGINT)) AS hops
       |FROM d$DupDepthRounds ORDER BY doc""".stripMargin
  }
}
