package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.DotFold.dotFold

/** Embedding-space structure discovery: density clustering (DBSCAN) over
  * the ε-similarity graph and tall-skinny PCA via a one-pass distributed
  * Gramian — the two corpus-cartography operators a training-data
  * pipeline runs between dedup (q45/q117) and index construction
  * (q39/q101/q163): "what dense regions exist" and "which directions
  * carry the variance".
  *
  * Both are Spark-first reconstructions of published algorithms (Ester et
  * al. 1996 DBSCAN; the Gramian/eigensolve split is exactly Spark's own
  * `RowMatrix.computePrincipalComponents` contract), not ports of any
  * reference code — the reference (dperco/ETL_APACHE_KAFKA_PYTHON_DOKER_AWS,
  * `dags/etl_dags.py`) has no clustering surface at all; these extend the
  * §2.4 LLM-pipeline families per the north star.
  */
object Clustering {

  // ---------------------------------------------------------------- q173

  /** ε for the density neighborhood, as a cosine floor: u ∈ N(v) iff
    * cos(u, v) ≥ 0.40. Wider than q67's calibrated 0.45 dedup bar — the
    * clustering radius wants *related* regions, not just near-copies —
    * and chosen so the fixture corpus exhibits all three DBSCAN roles
    * (16 cores / 60 borders at sf0.01; 482 cores at sf0.1).
    */
  val DbscanEps: Double = 0.40

  /** Classic DBSCAN minPts over |N_ε(p)| with p ∈ N_ε(p) (Ester et al.
    * 1996 §4.1 counts the point itself): core iff ≥ [[DbscanMinPts]] − 1
    * *neighbors*.
    */
  val DbscanMinPts: Int = 3

  /** The brute/banded crossover for the ε-graph at [[DbscanEps]] — the
    * SAME measured mode policy as q67 ([[Similarity.ndCrossoverAt]]):
    * below it the blocked exact pair scan is cheaper than any banded
    * geometry the pruning bar admits; above it the occupancy ladder's
    * rung prunes ≥ 85% of the pair space and the banded core takes over.
    */
  val DbscanCrossover: Long = Similarity.ndCrossoverAt(DbscanEps)

  /** The ε-neighbor pair relation (mode-aware, exactly q67's policy at
    * [[DbscanEps]]): an undirected (keep_id < drop_id) near-pair list.
    * DBSCAN's semantics are relation-agnostic — every step downstream of
    * this frame is role algebra over an edge list.
    */
  private def dbscanPairs(s: SparkSession, dir: String): DataFrame = {
    val n = embeddings(s, dir).count()
    // ordered = false: every consumer is graph algebra (degrees,
    // components, sweeps) that re-aggregates immediately — the global
    // sort the registered pair queries need was pure overhead here
    if (n <= DbscanCrossover)
      Similarity.bruteNearDupBlocked(Similarity.vecs(s, dir), n, DbscanEps,
        ordered = false)
    else {
      val rung = Similarity.ndPlanesFor(n)
      Similarity.nearDupBandedFrame(Similarity.vecs(s, dir), rung,
        Similarity.ndBandsForAt(rung, DbscanEps), DbscanEps, ordered = false)
    }
  }

  /** q173: DBSCAN density clustering over the embedding ε-graph — every
    * vector classified `core` (≥ [[DbscanMinPts]]−1 neighbors), `border`
    * (non-core adjacent to a core) or `noise`, with core components
    * collapsed to a canonical cluster id (min member id, q45's
    * convention) and borders attached to the min-id adjacent core
    * cluster (a deterministic tiebreak where the textbook's
    * "first-discovered" assignment is scan-order-dependent).
    *
    * Plan shape: pair generation is the mode-aware ε-graph core (blocked
    * exact equi-join below the measured crossover, banded LSH above —
    * never a full-corpus broadcast); degrees are one edge-keyed
    * aggregate; the component collapse is [[Dedup.minLabelPropagation]]
    * (hash-min + pointer doubling, O(log diameter) rounds) over the
    * CORE-CORE subgraph only — at scale the core subgraph is the dense
    * fraction of an already-pruned pair list, not the corpus. Border
    * attachment is one more edge-keyed aggregate. Nothing in the role
    * algebra exceeds O(E) per step.
    *
    * Oracle: the identical ε-graph (mode-aware SQL via
    * [[Similarity.ndPairsSqlCtes]]) with the propagation UNROLLED — 18
    * rounds of hash-min + pointer-doubling CTEs (label horizon 2^18,
    * ≥ any recorded component diameter; post-fixpoint rounds are
    * identities, so extra rounds can't diverge).
    */
  def q173Dbscan(s: SparkSession, dir: String): DataFrame =
    dbscanRoles(s, dir).orderBy(col("vec_id"))

  /** Memoized per (session, sfDir): q173 is the canonical consumer; the
    * cluster-quality report (q179) reads the same role table — the
    * [[Dedup.componentLabels]] sharing pattern.
    */
  private[graft] val dbscanRoles = new Dedup.Memo[DataFrame]("dbscan_roles")(computeDbscan)

  private def computeDbscan(s: SparkSession, dir: String): DataFrame = {
    // consumed by the degree aggregate and the core-flag annotation
    val pairs = dbscanPairs(s, dir).select(col("keep_id"), col("drop_id"))
      .localCheckpoint(true)
    val (dg, core, ann0) = coreGraph(pairs,
      embeddings(s, dir).select(col("vec_id").as("id")))
    // each read twice (labelling + border attachment; two role joins)
    val ann = ann0.localCheckpoint(true)
    val labels = coreLabels(core, ann).localCheckpoint(true)
    // materialized once for its consumers (q173's dump, q179's report)
    assembleRoles(ann, dg, labels).localCheckpoint(true)
  }

  /** DBSCAN core labelling over an undirected (keep_id, drop_id) ε-pair
    * list, step 1 of 2 ([[coreLabels]]): the one path behind q173's batch
    * roles and q178's stored base labels. `ids` is every vector's `id`,
    * isolated ones included. Returns the (id, degree) frame, the core ids
    * and the un-materialized core-flag-annotated pairs ([[annotatePairs]]).
    */
  private def coreGraph(pairs: DataFrame,
      ids: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // ONE degree aggregate straight off the undirected pair list (r20-opt:
    // the r19 shape materialized a doubled `edges` frame — 2E rows through
    // a checkpoint — whose only aggregate consumer was this groupBy)
    val deg = pairs
      .select(explode(array(col("keep_id"), col("drop_id"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
    val dg = ids.join(deg, Seq("id"), "left")
      .select(col("id"), coalesce(col("degree"), lit(0L)).as("degree"))
      .localCheckpoint(true)
    // narrow filter of the materialized dg — no separate checkpoint needed
    val core = dg.filter(col("degree") >= DbscanMinPts - 1).select(col("id"))
    // core flags attached to every pair ONCE (r20-opt): the core-core
    // subgraph and the border attachment both derive as filters of this
    // one annotated frame, replacing the r19 shape's two semi-joins (core
    // pairs) plus semi+anti joins over the doubled edge list (borders).
    (dg, core, annotatePairs(pairs, core))
  }

  /** Step 2: (doc, comp) for every core, un-materialized. */
  private def coreLabels(core: DataFrame, ann: DataFrame): DataFrame = {
    // component collapse over the core-core subgraph only
    val corePairs = ann.filter(col("a_core") && col("b_core"))
      .select(col("keep_id").as("doc_a"), col("drop_id").as("doc_b"))
    val propagated = Dedup.minLabelPropagation(corePairs)
    // isolated cores (dense but no core neighbor) form singleton clusters
    propagated
      .union(core
        .join(propagated.select(col("doc").as("id")), Seq("id"), "left_anti")
        .select(col("id").as("doc"), col("id").as("comp")))
  }

  /** The undirected pair list with both endpoints' core flags attached —
    * (keep_id, drop_id, a_core, b_core) — in one pass of two left joins.
    * Shared by the batch (q173) and incremental (q178) role derivations.
    */
  private def annotatePairs(pairs: DataFrame, core: DataFrame): DataFrame =
    pairs
      .join(core.select(col("id").as("keep_id"), lit(true).as("a_core")),
        Seq("keep_id"), "left")
      .join(core.select(col("id").as("drop_id"), lit(true).as("b_core")),
        Seq("drop_id"), "left")
      .select(col("keep_id"), col("drop_id"),
        coalesce(col("a_core"), lit(false)).as("a_core"),
        coalesce(col("b_core"), lit(false)).as("b_core"))

  /** Role/cluster assembly shared by the batch (q173) and incremental
    * (q178) paths — border attachment plus the final casing — so the two
    * can never drift on what `border`/`noise`/`cluster` mean. `ann` is
    * the core-flag-annotated undirected ε-pair list ([[annotatePairs]]),
    * `dg` the (id, degree) frame over ALL vectors, `labels` (doc, comp)
    * for every core. Reads `ann` exactly once: the mixed-role pairs
    * project to (core endpoint, non-core endpoint) with one filter.
    */
  private def assembleRoles(ann: DataFrame, dg: DataFrame,
      labels: DataFrame): DataFrame = {
    val minDeg = DbscanMinPts - 1
    // border = non-core adjacent to ≥1 core; cluster = min adjacent core's comp
    val borderAttach = ann.filter(col("a_core") =!= col("b_core"))
      .select(
        when(col("a_core"), col("keep_id")).otherwise(col("drop_id")).as("c"),
        when(col("a_core"), col("drop_id")).otherwise(col("keep_id")).as("nc"))
      .join(labels.select(col("doc").as("c"), col("comp")), Seq("c"))
      .groupBy(col("nc").as("id")).agg(min(col("comp")).as("bcluster"))
    dg.join(labels.select(col("doc").as("id"), col("comp")), Seq("id"), "left")
      .join(borderAttach, Seq("id"), "left")
      .select(col("id").as("vec_id"),
        when(col("degree") >= minDeg, lit("core"))
          .when(col("bcluster").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(when(col("degree") >= minDeg, col("comp"))
          .otherwise(col("bcluster")), lit(-1L)).as("cluster"),
        col("degree"))
  }

  /** Unrolled hash-min + pointer-doubling rounds over the core-core edge
    * CTE `ce`, seeded from `l0`. Each round: (a) comp ← min(comp, min
    * over in-neighbors' comp); (b) comp ← comp's own comp (every label is
    * a core id, so the doubling self-join is total).
    */
  private def dbscanRoundsCtes(rounds: Int): String =
    (1 to rounds).map { r =>
      val prev = if (r == 1) "l0" else s"l${r - 1}"
      // MATERIALIZED: each round reads its predecessor twice (hash-min +
      // the doubling self-join) — inlined, the reference tree would grow
      // 2^rounds scans of the base relation (the q155 oracle's spill
      // lesson, r14)
      s"""l${r}a AS MATERIALIZED (
         |  SELECT d.doc, least(d.comp, COALESCE(m.mn, d.comp)) AS comp
         |  FROM $prev d LEFT JOIN (
         |    SELECT ce.b AS doc, min(l.comp) AS mn
         |    FROM ce JOIN $prev l ON l.doc = ce.a GROUP BY ce.b) m
         |   ON d.doc = m.doc),
         |l$r AS MATERIALIZED (
         |  SELECT d.doc, p.comp FROM l${r}a d JOIN l${r}a p ON d.comp = p.doc)""".stripMargin
    }.mkString(",\n")

  private val DbscanOracleRounds: Int = 18

  /** The DBSCAN CTE chain (pairs → degrees → cores → unrolled
    * propagation → border attach) at a given brute/banded crossover gate
    * — ONE chain shared by q173 (the measured crossover), q178 (gate
    * removed: `Long.MaxValue`, the unconditional exact graph the
    * incremental fold maintains) and q179's quality report (which reads
    * `dg`/`lab`/`batt` instead of the final role SELECT).
    */
  private def dbscanCtes(crossover: Long): String = {
    val minDeg = DbscanMinPts - 1
    val last = s"l$DbscanOracleRounds"
    s"""${Similarity.ndPairsSqlCtes(DbscanEps, crossover)},
       |pairs AS MATERIALIZED (
       |  SELECT keep_id, drop_id FROM brute
       |  UNION ALL SELECT keep_id, drop_id FROM banded),
       |edges AS MATERIALIZED (
       |  SELECT keep_id AS a, drop_id AS b FROM pairs
       |  UNION ALL SELECT drop_id, keep_id FROM pairs),
       |deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS degree FROM edges GROUP BY a),
       |dg AS MATERIALIZED (
       |  SELECT e0.vec_id AS id, COALESCE(deg.degree, 0) AS degree
       |  FROM embeddings e0 LEFT JOIN deg ON e0.vec_id = deg.id),
       |core AS MATERIALIZED (SELECT id FROM dg WHERE degree >= $minDeg),
       |ce AS MATERIALIZED (
       |  SELECT e.a, e.b FROM edges e
       |  JOIN core ca ON e.a = ca.id JOIN core cb ON e.b = cb.id),
       |l0 AS (SELECT id AS doc, id AS comp FROM core),
       |${dbscanRoundsCtes(DbscanOracleRounds)},
       |lab AS (SELECT doc, comp FROM $last),
       |batt AS (
       |  SELECT e.b AS id, min(l.comp) AS bcluster
       |  FROM edges e
       |  JOIN core ca ON e.a = ca.id
       |  LEFT JOIN core cb ON e.b = cb.id
       |  JOIN lab l ON l.doc = e.a
       |  WHERE cb.id IS NULL
       |  GROUP BY e.b)""".stripMargin
  }

  private def dbscanSqlAt(crossover: Long): String = {
    val minDeg = DbscanMinPts - 1
    s"""WITH ${dbscanCtes(crossover)}
       |SELECT dg.id AS vec_id,
       | CASE WHEN dg.degree >= $minDeg THEN 'core'
       |      WHEN batt.bcluster IS NOT NULL THEN 'border'
       |      ELSE 'noise' END AS role,
       | COALESCE(CASE WHEN dg.degree >= $minDeg THEN lab.comp
       |               ELSE batt.bcluster END, CAST(-1 AS BIGINT)) AS cluster,
       | dg.degree
       |FROM dg
       |LEFT JOIN lab ON dg.id = lab.doc
       |LEFT JOIN batt ON dg.id = batt.id
       |ORDER BY vec_id""".stripMargin
  }

  val q173Sql: String = dbscanSqlAt(DbscanCrossover)

  // ---------------------------------------------------------------- q174

  /** Fixed power-iteration round count — both engines run exactly this
    * many rounds from the same start vector, so the (vector, eigenvalue)
    * pair is a deterministic function of the Gramian, converged or not.
    */
  val PowerIters: Int = 15

  /** q174: principal components of the embedding corpus via the
    * distributed-Gramian + local-eigensolve split — the tall-skinny PCA
    * pattern Spark itself ships (`RowMatrix.computePrincipalComponents`
    * collects the d×d Gramian to the driver and eigensolves locally;
    * public Spark source, mllib/linalg/distributed/RowMatrix.scala): for
    * d = 64, the distributed pass reduces n×d data to d² + d statistics
    * (map-side-combined sums — the exchange carries ≤ d²·partitions
    * rows), and everything after is O(d²) arithmetic on 4 KB of state —
    * the one place where driver-side math is the *correct* scale design,
    * not a shortcut. Centering is the rank-one update
    * Gc = G − s·sᵀ/n applied to the collected matrix, so no second
    * corpus pass materializes centered vectors.
    *
    * Eigensolve: [[PowerIters]] rounds of power iteration from the exact
    * start vector (1/8, …, 1/8), then one deflation
    * (G₂ = Gc − λ₁v₁v₁ᵀ) and a second run for PC2. Every float op is a
    * fixed-order sequential fold or map, so the DuckDB oracle replays
    * the identical IEEE arithmetic via `list_reduce`/`list_transform`
    * over the BIT-IDENTICAL quantized Gramian (see [[PcaQuantScale]] —
    * exact integer reduction, no order-dependent float sum anywhere;
    * the q25 DotFold ≡ list_reduce parity, applied to a matrix).
    *
    * Output: one row per dimension — mean, PC1/PC2 loadings, and the
    * (repeated) eigenvalues + explained-variance shares against the
    * centered trace.
    */
  /** The d-bounded PCA state: per-dim means, PC1/PC2 power iterates,
    * eigenvalue estimates, centered trace. A [[Dedup.Memo]] like every
    * other shared surface, keyed per (SESSION, dir) (r15 advice: a
    * dir-only key would silently serve stale stats if a corpus were
    * regenerated in-place within one JVM), so the d²-pass runs once per
    * dataset per session tree (q174 reports it; q180 projects through
    * it; q182 folds into it) and [[Dedup.clearMemos]] drops it.
    */
  private[graft] case class PcaStats(mu: Array[Double], v1: Array[Double],
      v2: Array[Double], lam1: Double, lam2: Double, trace: Double)

  private[graft] val pcaStats = new Dedup.Memo[PcaStats]("pca_stats")((s, dir) =>
    solveFromPartials(mergedPartialsCached(s, dir)))

  /** Per-product quantization scale for the Gramian/sum partials: every
    * product xi·xj (and every component xi) is snapped to the 1e-9 grid
    * as an INTEGER, `floor(p·1e9 + 0.5)` — a floor of a bit-identical
    * double, so the integer is identical in both engines — and the
    * reductions run in exact integer arithmetic. This is what makes the
    * statistics ORDER-FREE (r15 advice closed: no ROUND of an engine-
    * and-partitioning-dependent double sum anywhere in the PCA path) and
    * exactly ADDITIVE across doc-disjoint sides (the q182 merge law is
    * integer addition, not a float theorem).
    *
    * Exactness window: |x| ≤ 1 (unit-norm corpus) keeps |pq| ≤ 1e9, so a
    * corpus of up to ~9M vectors keeps every cell sum under 2^53 and the
    * final int→double conversion EXACT — both engines then divide the
    * same double by the same literal, bit-identically. Beyond that,
    * widen the accumulator to DECIMAL(38,0) and split the conversion;
    * the quantized semantics are unchanged.
    */
  val PcaQuantScale: Double = 1e9

  /** Quantized mergeable PCA partials over a (vec_id, v) frame, as ONE
    * tall frame — Gramian cells (i, j ≥ 0), per-dim sums (j = −1), and
    * the row count (i = j = −1) — the shape q182 stores durably and
    * folds by plain addition. ONE distributed pass: the double
    * posexplode is O(n·d²) rows through codegen — the same multiply-add
    * count any Gramian pays — and the (i, j)-keyed aggregate partials
    * map-side, so the shuffle carries ≤ d²+d+1 rows per partition.
    */
  private[graft] def pcaPartials(e: DataFrame): DataFrame = {
    val q = lit(PcaQuantScale)
    val gram = e.select(posexplode(col("v")).as(Seq("i", "xi")), col("v"))
      .select(col("i"), col("xi"), posexplode(col("v")).as(Seq("j", "xj")))
      .groupBy(col("i"), col("j"))
      .agg(sum(floor(col("xi") * col("xj") * q + lit(0.5))).as("q"))
    val sums = e.select(posexplode(col("v")).as(Seq("i", "xi")))
      .groupBy(col("i")).agg(sum(floor(col("xi") * q + lit(0.5))).as("q"))
      .select(col("i"), lit(-1).as("j"), col("q"))
    val cnt = e.agg(count(lit(1)).as("q"))
      .select(lit(-1).as("i"), lit(-1).as("j"), col("q"))
    gram.select(col("i"), col("j"), col("q"))
      .unionByName(sums).unionByName(cnt)
  }

  /** Split a (i, j, q) partials frame into the (g, sm, n) triple
    * [[collectAndSolve]] consumes — the exact-integer sums become
    * doubles (exact: < 2^53 in the documented window) and de-quantize by
    * the shared literal scale. */
  private def solveFromPartials(p: DataFrame): PcaStats = {
    val q = lit(PcaQuantScale)
    val g = p.filter(col("j") >= 0)
      .select(col("i"), col("j"), (col("q").cast("double") / q).as("g"))
    val sm = p.filter(col("j") === -1 && col("i") >= 0)
      .select(col("i"), (col("q").cast("double") / q).as("s"))
    val n = p.filter(col("i") === -1 && col("j") === -1)
      .head().getLong(2)
    collectAndSolve(g, sm, n)
  }

  /** Full-corpus quantized partials via the SHARED substrate (r20-opt,
    * guide §2.4/§6: one corpus pass, not one per family member): stored
    * base partials + the delta batch's partials, merged by integer
    * addition — the exact identity q182's oracle hash proves — instead
    * of the second full O(n·d²) posexplode pass the r19 shape ran for
    * q174/q180's stats. Values are bit-identical (exact integer sums are
    * associative across the doc-disjoint split). Memoized per (session,
    * dir): q174's stats and q182's registered output both read it.
    */
  private val mergedPartialsCached =
    new Dedup.Memo[DataFrame]("pca_partials_full")((s, dir) =>
      mergedPcaPartials(s, dir).localCheckpoint(true))

  /** Collect the d-bounded stats and eigensolve — d² = 4096 doubles of
    * state: the RowMatrix contract, collect bounded by the DIMENSION,
    * never the corpus. Shared by the batch (q174/q180) and incremental
    * (q182) paths.
    */
  private def collectAndSolve(g: DataFrame, sm: DataFrame, n: Long): PcaStats = {
    val d = Similarity.AnnDims
    val gArr = Array.ofDim[Double](d, d)
    g.collect().foreach(r => gArr(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    val sArr = new Array[Double](d)
    sm.collect().foreach(r => sArr(r.getInt(0)) = r.getDouble(1))
    val nn = n.toDouble
    val gc = Array.tabulate(d, d)((i, j) => gArr(i)(j) - sArr(i) * sArr(j) / nn)
    def matvec(m: Array[Array[Double]], v: Array[Double]): Array[Double] =
      Array.tabulate(d)(i =>
        (0 until d).foldLeft(0.0)((acc, j) => acc + m(i)(j) * v(j)))
    def powerIterate(m: Array[Array[Double]]): (Array[Double], Double) = {
      var v = Array.fill(d)(0.125)
      for (_ <- 1 to PowerIters) {
        val w = matvec(m, v)
        val nrm = math.sqrt((0 until d).foldLeft(0.0)((acc, i) => acc + w(i) * w(i)))
        v = v.indices.map(i => w(i) / nrm).toArray
      }
      val w = matvec(m, v)
      val lam = (0 until d).foldLeft(0.0)((acc, i) => acc + v(i) * w(i))
      (v, lam)
    }
    val (v1, lam1) = powerIterate(gc)
    val g2 = Array.tabulate(d, d)((i, j) => gc(i)(j) - lam1 * v1(i) * v1(j))
    val (v2, lam2) = powerIterate(g2)
    val trace = (0 until d).foldLeft(0.0)((acc, i) => acc + gc(i)(i))
    PcaStats(Array.tabulate(d)(i => sArr(i) / nn), v1, v2, lam1, lam2, trace)
  }

  def q174PcaPower(s: SparkSession, dir: String): DataFrame =
    pcaOutput(s, pcaStats(s, dir))

  /** The per-dimension report frame from a [[PcaStats]] — shared by the
    * batch (q174) and incremental (q182) paths, so fold ≡ batch is a
    * statement about the STATS, not the formatting.
    */
  private def pcaOutput(s: SparkSession, st: PcaStats): DataFrame = {
    val d = Similarity.AnnDims
    import s.implicits._
    (0 until d).map(i =>
        (i + 1L, st.mu(i), st.v1(i), st.v2(i), st.lam1, st.lam2,
          st.lam1 / st.trace, st.lam2 / st.trace))
      .toDF("dim", "mu_r", "pc1_r", "pc2_r", "l1", "l2", "s1", "s2")
      .select(col("dim"),
        round(col("mu_r"), 6).as("mu"),
        round(col("pc1_r"), 6).as("pc1"),
        round(col("pc2_r"), 6).as("pc2"),
        round(col("l1"), 6).as("lam1"),
        round(col("l2"), 6).as("lam2"),
        round(col("s1"), 6).as("var_share1"),
        round(col("s2"), 6).as("var_share2"))
      .orderBy(col("dim"))
  }

  /** One power-iteration round: w = M·v (per-row sequential fold), then
    * v = w / ‖w‖ — the exact op order of the Scala loop. `mat` must
    * expose column `m` (list of row-lists), `l0`/the previous round
    * column `v`.
    */
  private def powerIterCtes(prefix: String, mat: String, rounds: Int): String = {
    val dd = Similarity.AnnDims
    (1 to rounds).map { t =>
      val prev = if (t == 1) s"${prefix}0" else s"$prefix${t - 1}"
      s"""$prefix${t}w AS (
         |  SELECT list_transform(range(1, ${dd + 1}), i ->
         |    ${Similarity.sqlFold(s"list_transform(range(1, ${dd + 1}), j -> m[i][j] * v[j])")}) AS w
         |  FROM $prev, $mat),
         |$prefix$t AS (
         |  SELECT list_transform(w, x -> x / sqrt(list_reduce(
         |    list_prepend(CAST(0 AS DOUBLE), list_transform(w, y -> y * y)),
         |    (a, b) -> a + b))) AS v
         |  FROM $prefix${t}w)""".stripMargin
    }.mkString(",\n")
  }

  /** The full PCA CTE chain (Gramian → centered matrix → two unrolled
    * power-iteration runs → eigen summaries) — shared by q174's report
    * and q180's projection map.
    */
  private def pcaSqlCtes: String = {
    val dd = Similarity.AnnDims
    val rng = s"range(1, ${dd + 1})"
    def matvecSql: String =
      s"list_transform($rng, i -> ${Similarity.sqlFold(s"list_transform($rng, j -> m[i][j] * v[j])")})"
    s"""e AS (
       |  SELECT ${Similarity.sqlWiden} AS v FROM embeddings),
       |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
       |xp AS (
       |  SELECT ti.i AS i, tj.j AS j,
       |   CAST(floor(v[ti.i] * v[tj.j] * $PcaQuantScale + 0.5) AS BIGINT) AS pq
       |  FROM e, unnest($rng) AS ti(i), unnest($rng) AS tj(j)),
       |g AS (SELECT i, j,
       |   CAST(CAST(SUM(pq) AS BIGINT) AS DOUBLE) / $PcaQuantScale AS g
       |  FROM xp GROUP BY i, j),
       |sm AS (
       |  SELECT t.i AS i,
       |   CAST(CAST(SUM(CAST(floor(v[t.i] * $PcaQuantScale + 0.5) AS BIGINT)) AS BIGINT)
       |        AS DOUBLE) / $PcaQuantScale AS s
       |  FROM e, unnest($rng) AS t(i) GROUP BY t.i),
       |gc AS (
       |  SELECT g.i, g.j, g.g - sa.s * sb.s / n AS g
       |  FROM g JOIN sm sa ON g.i = sa.i JOIN sm sb ON g.j = sb.i, cnt),
       |gr AS (SELECT i, list(g ORDER BY j) AS r FROM gc GROUP BY i),
       |gm AS (SELECT list(r ORDER BY i) AS m FROM gr),
       |p10 AS (SELECT list_transform($rng, i -> CAST(0.125 AS DOUBLE)) AS v),
       |${powerIterCtes("p1", "gm", PowerIters)},
       |fin1 AS (SELECT v, $matvecSql AS w FROM p1$PowerIters, gm),
       |ev1 AS (
       |  SELECT v AS v1,
       |   ${Similarity.sqlFold(s"list_transform($rng, i -> v[i] * w[i])")} AS lam1
       |  FROM fin1),
       |gm2 AS (
       |  SELECT list_transform($rng, i -> list_transform($rng, j ->
       |    m[i][j] - lam1 * v1[i] * v1[j])) AS m
       |  FROM gm, ev1),
       |p20 AS (SELECT list_transform($rng, i -> CAST(0.125 AS DOUBLE)) AS v),
       |${powerIterCtes("p2", "gm2", PowerIters)},
       |fin2 AS (SELECT v, $matvecSql AS w FROM p2$PowerIters, gm2),
       |ev2 AS (
       |  SELECT v AS v2,
       |   ${Similarity.sqlFold(s"list_transform($rng, i -> v[i] * w[i])")} AS lam2
       |  FROM fin2),
       |tr AS (
       |  SELECT ${Similarity.sqlFold(s"list_transform($rng, i -> m[i][i])")} AS trace
       |  FROM gm)""".stripMargin
  }

  val q174Sql: String =
    s"""WITH $pcaSqlCtes
       |SELECT CAST(sm.i AS BIGINT) AS dim,
       | ROUND(sm.s / cnt.n, 6) AS mu,
       | ROUND(e1.v1[sm.i], 6) AS pc1,
       | ROUND(e2.v2[sm.i], 6) AS pc2,
       | ROUND(e1.lam1, 6) AS lam1,
       | ROUND(e2.lam2, 6) AS lam2,
       | ROUND(e1.lam1 / tr.trace, 6) AS var_share1,
       | ROUND(e2.lam2 / tr.trace, 6) AS var_share2
       |FROM sm, cnt, ev1 e1, ev2 e2, tr
       |ORDER BY dim""".stripMargin

  // ---------------------------------------------------------------- q182

  /** The stored PCA state: the BASE corpus's quantized Gramian/sum/count
    * partials ([[pcaPartials]] over `vec_id % 10 ≠ 0`, q148's delta
    * convention) as a durable bucketed parquet table (q102's writer
    * [[Layout.materializeBucketed]], the q168/q178 stored-state idiom; a
    * fresh table per memo build). d² + d + 1 = 4161 integer rows — the
    * RowMatrix contract means the durable state is bounded by the
    * DIMENSION, never the corpus.
    */
  private[graft] val storedPcaPartials = new Dedup.Memo[DataFrame]("pca_gram_base")((s, dir) =>
    Layout.materializeBucketed(s, "pca_gram", "i")(
      pcaPartials(Similarity.vecs(s, dir).filter(!isDeltaVec)
        .select(col("vec_id"), col("v")))))

  /** q182: INCREMENTAL PCA maintenance — fold a vector batch into the
    * stored Gramian state without re-scanning the base corpus, then
    * eigensolve the merged statistics. The fold IS plain addition: the
    * quantized partials (see [[PcaQuantScale]]) are exact integers, and
    * second moments/sums/counts are additive across doc-disjoint sides,
    * so merge(G_base, G_delta) = G(base ∪ delta) is an integer identity,
    * not a float theorem. Everything downstream ([[collectAndSolve]],
    * [[pcaOutput]]) is the code q174 runs — fold ≡ batch is a statement
    * about the STATS, and the oracle (q174's batch SQL verbatim, full
    * corpus) makes the driver's hash compare prove it.
    *
    * Plan shape: the base side is a 4161-row bucketed catalog scan (the
    * stored table — the base VECTORS are never re-exploded: only the
    * `vec_id % 10 = 0` delta rows pay the O(Δ·d²) posexplode), the merge
    * is a (i, j)-keyed aggregate over ≤ 2·(d²+d+1) rows, and the collect
    * stays d-bounded (4 KB). Per-increment cost: O(Δ·d²) — independent
    * of the base corpus size, the incremental-family contract
    * (q121/q126/q148/q168/q178) for the PCA member.
    */
  /** The distributed half of the q182 fold — stored base partials ∪ the
    * delta batch's partials, merged by integer addition. Exposed so the
    * spec can pin ITS plan (the eigensolve is a bounded driver-side
    * collect, so the REGISTERED frame's lineage is a LocalTableScan of
    * 64 result rows — the scale claim lives here).
    */
  private[graft] def mergedPcaPartials(s: SparkSession, dir: String): DataFrame =
    storedPcaPartials(s, dir).select(col("i"), col("j"), col("q"))
      .unionByName(pcaPartials(Similarity.vecs(s, dir).filter(isDeltaVec)
        .select(col("vec_id"), col("v"))))
      .groupBy(col("i"), col("j")).agg(sum(col("q")).as("q"))

  def q182PcaIncrement(s: SparkSession, dir: String): DataFrame =
    pcaOutput(s, solveFromPartials(mergedPartialsCached(s, dir)))

  /** The batch-PCA oracle verbatim: the hash match IS the merge law. */
  val q182Sql: String = q174Sql

  // ---------------------------------------------------------------- q178

  /** The embedding-delta convention (q148's): `vec_id % 10 = 0` is the
    * arriving batch, the rest is the stored base corpus.
    */
  private def isDeltaVec = col("vec_id") % 10 === 0

  /** The stored clustering state, as DURABLE bucketed parquet tables
    * (q102's write pattern via [[Layout.materializeBucketed]], the q168
    * stored-index idiom; a fresh table per memo build): the base ε-pair
    * list and the base core labels. Degrees and the core set derive from
    * the read-back pair table — the base VECTORS are never re-scored.
    */
  private[graft] val storedDbscanPairs =
    new Dedup.Memo[DataFrame]("dbscan_base_pairs")((s, dir) =>
      Layout.materializeBucketed(s, "dbscan_pairs", "keep_id") {
        val base = Similarity.vecs(s, dir).filter(!isDeltaVec)
        Similarity.bruteNearDupBlocked(base, base.count(), DbscanEps,
            ordered = false) // bucketed write re-shuffles by key anyway
          .select(col("keep_id"), col("drop_id"))
      })

  private[graft] val storedDbscanLabels =
    new Dedup.Memo[DataFrame]("dbscan_base_labels")((s, dir) =>
      Layout.materializeBucketed(s, "dbscan_labels", "doc") {
        // no checkpoints: the annotated pairs feed only the labelling,
        // and the bucketed write materializes the labels
        val (_, core, ann) = coreGraph(storedDbscanPairs(s, dir), embeddings(s, dir)
          .filter(!isDeltaVec).select(col("vec_id").as("id")))
        coreLabels(core, ann)
      })

  /** q178: INCREMENTAL density-clustering maintenance — fold a vector
    * batch into the stored DBSCAN state without re-scoring the base
    * corpus, and prove the fold changes nothing: the oracle is the
    * from-scratch exact-ε-graph DBSCAN over base ∪ delta, so the hash
    * compare IS the fold ≡ batch theorem (the q121/q126/q148/q168
    * incremental-family contract, now for density clustering).
    *
    * Why the fold is exact — additions are MONOTONE under DBSCAN:
    *   - the delta only ADDS edges, so degrees only grow and the core
    *     set only gains members (no demotions to reason about);
    *   - delta-incident pairs are a BLOCK-replicated equi-join
    *     (delta×corpus, O(Δ·n) dot products — never the O(n²) rebuild,
    *     and never a full-corpus broadcast);
    *   - the only NEW core-core edges are (a) delta-incident pairs with
    *     both endpoints core and (b) STORED base pairs re-activated by
    *     an endpoint crossing the core bar — a semi-join of the stored
    *     pair table against the (small) newly-core set;
    *   - components re-converge on the CONDENSED gluing graph (new
    *     core edges with endpoints mapped to their stored base labels):
    *     propagation cost is bounded by the touched components, not the
    *     corpus (q121's condensed-fold shape). Labels are class minima,
    *     so the min over merged classes is the global component min —
    *     identical to the batch label.
    * Border re-attachment is one edge-keyed aggregate over the stored ∪
    * delta pair list — the same O(E) step the batch pays, and the reason
    * the per-increment cost is O(Δ·n + E), not O(n²).
    *
    * The fold maintains the EXACT ε-graph (so does the registered q173
    * at every recorded scale — its banded mode engages only above the
    * measured ~4.19M-vector crossover, where an incremental consumer
    * would fold band signatures instead); the oracle pins fold ≡ batch
    * on that graph unconditionally (its pair CTE is the brute branch
    * with the crossover gate removed).
    */
  def q178DbscanIncrement(s: SparkSession, dir: String): DataFrame = {
    val minDeg = DbscanMinPts - 1
    val all = Similarity.vecs(s, dir)
    // stored state: durable pair + label tables, read back
    val stored = storedDbscanPairs(s, dir)
    val storedLab = storedDbscanLabels(s, dir)
    // delta-incident exact pairs: the delta rows replicate across the
    // block axis, the corpus partitions by block — an equi-join whose
    // per-task work is |Δ|·(n/B) dot products, bruteNearDupBlocked's
    // geometry with one side pinned to the batch
    val nAll = embeddings(s, dir).count()
    val nBlocks = math.max(Similarity.NdBruteMinBlocks,
      math.ceil(nAll.toDouble / Similarity.NdBruteBlockTarget.toDouble).toInt)
    val dRep = all.filter(isDeltaVec)
      .select(col("vec_id").as("d_id"), col("v").as("dv"), col("norm").as("dn"),
        explode(sequence(lit(0), lit(nBlocks - 1))).as("blk"))
    val aBlk = all.select(col("vec_id"), col("v"), col("norm"),
      pmod(col("vec_id"), lit(nBlocks.toLong)).cast("int").as("blk"))
    val deltaPairs = dRep.hint("merge").join(aBlk, Seq("blk"))
      // delta-delta pairs meet twice (both sides replicated) — keep one
      .filter(col("d_id") =!= col("vec_id")
        && (col("vec_id") % 10 =!= 0 || col("d_id") < col("vec_id")))
      .select(least(col("d_id"), col("vec_id")).as("keep_id"),
        greatest(col("d_id"), col("vec_id")).as("drop_id"),
        (dotFold(col("dv"), col("v")) / (col("dn") * col("norm"))).as("sim_raw"))
      .filter(col("sim_raw") >= DbscanEps)
      .select(col("keep_id"), col("drop_id"))
      .localCheckpoint(true) // read by degrees, core edges, assembly
    // updated degrees = stored-pair degrees + delta increments
    def degOf(p: DataFrame, name: String): DataFrame =
      p.select(col("keep_id").as("id")).union(p.select(col("drop_id").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as(name))
    val baseDeg = degOf(stored, "bd").localCheckpoint(true)
    val dg = embeddings(s, dir).select(col("vec_id").as("id"))
      .join(baseDeg, Seq("id"), "left")
      .join(degOf(deltaPairs, "ad"), Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("bd"), lit(0L)) + coalesce(col("ad"), lit(0L))).as("degree"))
      .localCheckpoint(true)
    val core = dg.filter(col("degree") >= minDeg).select(col("id"))
      .localCheckpoint(true)
    val newlyCore = core
      .join(baseDeg.filter(col("bd") >= minDeg).select(col("id")), Seq("id"), "left_anti")
      .localCheckpoint(true)
    // stored pairs re-activated by a newly-core endpoint
    val react = stored
      .join(newlyCore.withColumnRenamed("id", "keep_id"), Seq("keep_id"), "left_semi")
      .select(col("keep_id"), col("drop_id"))
      .union(stored
        .join(newlyCore.withColumnRenamed("id", "drop_id"), Seq("drop_id"), "left_semi")
        .select(col("keep_id"), col("drop_id")))
      .distinct()
    // the condensed gluing graph: new core-core edges, endpoints mapped
    // to their stored class labels (newly-core nodes map to themselves)
    val newCoreEdges = deltaPairs.union(react)
      .join(core.withColumnRenamed("id", "keep_id"), Seq("keep_id"), "left_semi")
      .join(core.withColumnRenamed("id", "drop_id"), Seq("drop_id"), "left_semi")
    val mapped = newCoreEdges
      .join(storedLab.select(col("doc").as("keep_id"), col("comp").as("kc")),
        Seq("keep_id"), "left")
      .join(storedLab.select(col("doc").as("drop_id"), col("comp").as("dc")),
        Seq("drop_id"), "left")
      .select(coalesce(col("kc"), col("keep_id")).as("doc_a"),
        coalesce(col("dc"), col("drop_id")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    val fold = Dedup.minLabelPropagation(mapped)
    // final labels: stored class label (or self) re-pointed through the fold
    val labels = core
      .join(storedLab.select(col("doc").as("id"), col("comp").as("b_comp")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("b_comp"), col("id")).as("start"))
      .join(fold.select(col("doc").as("start"), col("comp").as("f_comp")),
        Seq("start"), "left")
      .select(col("id").as("doc"), coalesce(col("f_comp"), col("start")).as("comp"))
      .localCheckpoint(true)
    // the annotated stored ∪ delta pair list feeds assembleRoles' single
    // pass — no checkpoint: assembly is its only consumer here (the
    // core-core fold edges come from the condensed gluing graph above)
    assembleRoles(annotatePairs(
        stored.select(col("keep_id"), col("drop_id")).union(deltaPairs), core),
      dg, labels)
      .orderBy(col("vec_id"))
  }

  /** The exact-ε-graph DBSCAN oracle: q173's CTE chain with the
    * crossover gate removed (brute branch unconditional), over the FULL
    * corpus — the batch recompute the fold must equal.
    */
  val q178Sql: String = dbscanSqlAt(Long.MaxValue)

  // ---------------------------------------------------------------- q179

  /** q179: cluster-quality report — the clustering family's EVAL member
    * (q155 is this for the ANN indexes, q172 for retrieval): one row per
    * q173 cluster with membership census, centroid cohesion (mean cosine
    * of members to their own cluster centroid), and the mean SIMPLIFIED
    * silhouette (Hruschka et al. 2004 — a(i)/b(i) measured to cluster
    * CENTROIDS, not all-pairs member distances: the O(n·k) form that
    * scales where Rousseeuw's O(n²) original cannot; distances are
    * cosine distance 1 − cos).
    *
    * Plan shape: membership comes from the memoized q173 role table;
    * centroids are one (cluster, dim)-keyed aggregate (map-side
    * partials, cells×dims exchange rows — q85's invariant); the own-
    * centroid leg is a cluster-keyed equi-join; the other-centroid leg
    * is members × (k−1) centroids through a broadcast of the BOUNDED
    * centroid table — O(n·k) dot products, the declared cost of the
    * metric itself. Per-member cosines stay raw (bit-identical
    * sequential folds in both engines); only the per-cluster averages
    * round — see the midpoint note at the `own` leg.
    *
    * Degenerate contracts, identical in both engines: a single-cluster
    * corpus has no "nearest other centroid" — silhouette is NULL (LEFT
    * join + null-ignoring avg); a member exactly on its centroid with a
    * coincident other centroid would hit 0/0 — pinned to 0.
    */
  def q179ClusterQuality(s: SparkSession, dir: String): DataFrame = {
    val mem = dbscanRoles(s, dir).filter(col("role") =!= "noise")
      .select(col("vec_id"), col("cluster"),
        when(col("role") === "core", lit(1L)).otherwise(lit(0L)).as("is_core"))
      .join(Similarity.vecs(s, dir), Seq("vec_id"))
      .localCheckpoint(true) // read by centroids, own-leg, other-leg
    val cents = mem.select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cluster"), col("pos")).agg(round(avg(col("x")), 6).as("c"))
      .groupBy(col("cluster"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        e => e.getField("c")).as("cv"))
      .withColumn("cnorm", sqrt(dotFold(col("cv"), col("cv"))))
    // NOT checkpointed: the other-centroid leg broadcasts this frame into
    // a nested-loop join, and the suite-wide boundedness guard reasons
    // from the build side's ROOT — an aggregate (k rows) passes, a
    // checkpoint scan would not. Recomputing the k×d aggregate for each
    // leg is cheaper than weakening the guard.
    // per-member cosines stay RAW: the sequential fold is bit-identical
    // across engines, and rounding them would snap every value onto the
    // 1e-6 grid — whose small-k cluster AVERAGES then land exactly on
    // rounding midpoints, where Spark's shortest-string HALF_UP and
    // DuckDB's binary-double rounding disagree (measured at sf0.1).
    // Only the final per-cluster averages round.
    val own = mem.join(cents, Seq("cluster"))
      .select(col("vec_id"), col("cluster"), col("is_core"),
        (dotFold(col("v"), col("cv")) / (col("norm") * col("cnorm")))
          .as("cos_own"))
    val oth = mem.join(broadcast(cents.select(col("cluster").as("o_cluster"),
          col("cv").as("ov"), col("cnorm").as("onorm"))),
        col("cluster") =!= col("o_cluster"))
      .select(col("vec_id"),
        (dotFold(col("v"), col("ov")) / (col("norm") * col("onorm")))
          .as("cos_o"))
      .groupBy(col("vec_id")).agg(max(col("cos_o")).as("cos_oth"))
    val a = lit(1) - col("cos_own")
    val b = lit(1) - col("cos_oth")
    val sil = own.join(oth, Seq("vec_id"), "left")
      .select(col("cluster"), col("is_core"), col("cos_own"),
        when(col("cos_oth").isNull, lit(null).cast("double"))
          .when(greatest(a, b) > 0, (b - a) / greatest(a, b))
          .otherwise(lit(0.0)).as("s"))
    sil.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("is_core")).as("n_core"),
        (count(lit(1)) - sum(col("is_core"))).as("n_border"),
        round(avg(col("cos_own")), 6).as("cohesion"),
        round(avg(col("s")), 6).as("silhouette"))
      .orderBy(col("cluster"))
  }

  val q179Sql: String = {
    val minDeg = DbscanMinPts - 1
    val dd = Similarity.AnnDims
    s"""WITH ${dbscanCtes(DbscanCrossover)},
       |members AS MATERIALIZED (
       |  SELECT dg.id AS vec_id,
       |   CASE WHEN dg.degree >= $minDeg THEN lab.comp ELSE batt.bcluster END AS cluster,
       |   CASE WHEN dg.degree >= $minDeg THEN 1 ELSE 0 END AS is_core
       |  FROM dg
       |  LEFT JOIN lab ON dg.id = lab.doc
       |  LEFT JOIN batt ON dg.id = batt.id
       |  WHERE dg.degree >= $minDeg OR batt.bcluster IS NOT NULL),
       |mv AS MATERIALIZED (
       |  SELECT m.vec_id, m.cluster, m.is_core, n.v, n.norm
       |  FROM members m JOIN n ON n.vec_id = m.vec_id),
       |cd AS (
       |  SELECT cluster, t.i AS pos, ROUND(avg(v[t.i]), 6) AS c
       |  FROM mv, unnest(range(1, ${dd + 1})) AS t(i) GROUP BY cluster, t.i),
       |cn AS MATERIALIZED (
       |  SELECT cluster, cv, sqrt(${Similarity.sqlDot("cv", "cv")}) AS cnorm FROM (
       |    SELECT cluster, list(c ORDER BY pos) AS cv FROM cd GROUP BY cluster) cq),
       |own AS (
       |  SELECT mv.vec_id, mv.cluster, mv.is_core,
       |   ${Similarity.sqlDot("mv.v", "cn.cv")} / (mv.norm * cn.cnorm) AS cos_own
       |  FROM mv JOIN cn ON mv.cluster = cn.cluster),
       |oth AS (
       |  SELECT mv.vec_id,
       |   max(${Similarity.sqlDot("mv.v", "cn.cv")} / (mv.norm * cn.cnorm)) AS cos_oth
       |  FROM mv JOIN cn ON mv.cluster <> cn.cluster GROUP BY mv.vec_id),
       |sil AS (
       |  SELECT own.cluster, own.is_core, own.cos_own,
       |   CASE WHEN oth.vec_id IS NULL THEN NULL
       |        WHEN GREATEST(1 - own.cos_own, 1 - oth.cos_oth) > 0
       |        THEN ((1 - oth.cos_oth) - (1 - own.cos_own))
       |             / GREATEST(1 - own.cos_own, 1 - oth.cos_oth)
       |        ELSE 0 END AS s
       |  FROM own LEFT JOIN oth ON own.vec_id = oth.vec_id)
       |SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
       | CAST(sum(is_core) AS BIGINT) AS n_core,
       | CAST(count(*) - sum(is_core) AS BIGINT) AS n_border,
       | ROUND(avg(cos_own), 6) AS cohesion,
       | ROUND(avg(s), 6) AS silhouette
       |FROM sil GROUP BY cluster ORDER BY cluster""".stripMargin
  }

  // ---------------------------------------------------------------- q180

  /** Cells per principal axis for the corpus map. */
  val PcaGrid: Int = 8

  /** q180: PCA corpus map — every embedding projected onto the two
    * principal axes (q174's components) and histogrammed on a
    * [[PcaGrid]]×[[PcaGrid]] grid, with the distinct-label census per
    * cell: the "where does my corpus live" scatter a curation team pins
    * on the wall, and the operator that makes q174's loadings
    * LOAD-BEARING (a report nobody consumes is a number, not a tool).
    * Grid cells that separate labels (n_labels = 1) are coherent
    * regions; mixed cells are where semantic dedup and curation earn
    * their keep.
    *
    * Plan shape: the projection is map-only — the centered vector and
    * two sequential-fold dot products against PC literals broadcast from
    * the d-bounded [[pcaStats]] (the same widen-project idiom as q61's
    * quantization); the grid needs one 1-row min/max frame (broadcast)
    * and one (b1, b2)-keyed aggregate. Nothing shuffles more than
    * grid² rows per partition.
    *
    * Parity: projections are bit-identical across engines (the PC
    * literals equal the oracle's CTE-recomputed iterates exactly — both
    * are the same deterministic fixed-round iteration — and the fold
    * order matches), so bucket edges cannot flip: the only rounding
    * anywhere is the output's display column.
    */
  def q180PcaMap(s: SparkSession, dir: String): DataFrame = {
    val st = pcaStats(s, dir)
    val muL = typedlit(st.mu.toSeq)
    val v1L = typedlit(st.v1.toSeq)
    val v2L = typedlit(st.v2.toSeq)
    val p = embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("cv", zip_with(col("v"), muL, (x, m) => x - m))
      .select(col("label"),
        dotFold(col("cv"), v1L).as("p1"), dotFold(col("cv"), v2L).as("p2"))
    val ext = p.agg(min(col("p1")).as("mn1"), max(col("p1")).as("mx1"),
      min(col("p2")).as("mn2"), max(col("p2")).as("mx2"))
    def cell(v: Column, mn: Column, mx: Column): Column =
      when(mx === mn, lit(0L)).otherwise(
        least(lit(PcaGrid - 1L),
          floor((v - mn) * PcaGrid / (mx - mn)).cast("long")))
    p.crossJoin(broadcast(ext))
      .select(col("label"),
        cell(col("p1"), col("mn1"), col("mx1")).as("b1"),
        cell(col("p2"), col("mn2"), col("mx2")).as("b2"))
      .groupBy(col("b1"), col("b2"))
      .agg(count(lit(1)).as("n"), countDistinct(col("label")).as("n_labels"))
      .orderBy(col("b1"), col("b2"))
  }

  val q180Sql: String = {
    val dd = Similarity.AnnDims
    val rng = s"range(1, ${dd + 1})"
    def cell(v: String, mn: String, mx: String): String =
      s"""CASE WHEN $mx = $mn THEN 0
         |      ELSE LEAST(${PcaGrid - 1},
         |        CAST(floor(($v - $mn) * $PcaGrid / ($mx - $mn)) AS BIGINT)) END""".stripMargin
    s"""WITH $pcaSqlCtes,
       |ml AS (SELECT list(sm.s / cnt.n ORDER BY sm.i) AS m FROM sm, cnt),
       |e2 AS (
       |  SELECT vec_id, label,
       |   ${Similarity.sqlWiden} AS v
       |  FROM embeddings),
       |proj AS MATERIALIZED (
       |  SELECT e2.label,
       |   ${Similarity.sqlFold(s"list_transform($rng, i -> (e2.v[i] - ml.m[i]) * e1.v1[i])")} AS p1,
       |   ${Similarity.sqlFold(s"list_transform($rng, i -> (e2.v[i] - ml.m[i]) * e2v.v2[i])")} AS p2
       |  FROM e2, ml, ev1 e1, ev2 e2v),
       |ext AS (
       |  SELECT min(p1) AS mn1, max(p1) AS mx1, min(p2) AS mn2, max(p2) AS mx2
       |  FROM proj),
       |cells AS (
       |  SELECT label,
       |   ${cell("p1", "mn1", "mx1")} AS b1,
       |   ${cell("p2", "mn2", "mx2")} AS b2
       |  FROM proj, ext)
       |SELECT b1, b2, CAST(count(*) AS BIGINT) AS n,
       | CAST(count(DISTINCT label) AS BIGINT) AS n_labels
       |FROM cells GROUP BY b1, b2 ORDER BY b1, b2""".stripMargin
  }

  // ---------------------------------------------------------------- q184

  /** The ε×minPts grid q184 sweeps. ε values sit AT and above
    * [[DbscanEps]] — every cell's edge set is a similarity-filtered
    * subset of the one shared ε₀-graph, so the sweep re-filters ONE pair
    * list instead of re-running pair generation per cell. minPts
    * brackets the registered [[DbscanMinPts]].
    */
  val SweepEps: Seq[Double] = Seq(0.40, 0.45, 0.50)
  val SweepMinPts: Seq[Int] = Seq(3, 5)

  /** (cell index, ε, minPts) — cell order is (ε-major, minPts-minor), the
    * same ORDER BY the output uses. */
  private val sweepGrid: Seq[(Int, Double, Int)] =
    for ((e, i) <- SweepEps.zipWithIndex; (m, j) <- SweepMinPts.zipWithIndex)
      yield (i * SweepMinPts.size + j, e, m)

  /** Composite (cell, vector) node encoding for the per-cell component
    * propagation: node = cell·10¹² + vec_id, so ONE [[Dedup
    * .minLabelPropagation]] run labels all grid cells at once (cells
    * can't interact — their id ranges are disjoint — and min-labels stay
    * within a cell, so comp % 10¹² decodes back to the min member id).
    * Headroom: 6 cells × ids < 10¹² keeps every composite well under
    * 2^53, and the propagation's decimal label sums don't overflow.
    *
    * PRECONDITION (explicit per r16 verdict residual #2): every vec_id
    * must be < [[CellOffset]] = 10¹², or composites from adjacent cells
    * would collide and the `% CellOffset` decode would corrupt labels.
    * Holds by construction for every shipped corpus (ids are dense
    * sequential longs, ≤ ~10⁸ even at 100 TB with billion-document
    * shards); a deployment with synthetic/hashed 64-bit ids must densify
    * first (q50's id-densify is the canonical pre-pass). The guard is
    * enforced at plan time on the statically-known side
    * ([[sweepGrid]].size · CellOffset within double-exact range) and
    * documented, not row-checked — a per-row assert_true on E·|grid|
    * edge rows would tax every sweep for a condition the id contract
    * already guarantees.
    */
  private val CellOffset: Long = 1000000000000L

  /** q184: DBSCAN parameter-sensitivity sweep — the report that picks
    * (ε, minPts) BEFORE a 100 TB clustering run. The r15 sf1 gate showed
    * why it must exist: at ε = 0.40 the realistic corpus collapses to
    * ONE giant cluster (BASELINE.md r15 addendum) — a correct result the
    * operator only discovers after paying for the full run. This sweep
    * prices the whole grid for little more than one run: the ε-graph is
    * generated ONCE at the widest radius (the shared mode-aware policy,
    * exactly q173's pair relation), each pair's raw cosine is recovered
    * with one O(E·d) verify pass, and every grid cell is a
    * similarity-filtered VIEW of that one edge list — degrees, the core
    * bar, components and border attachment replay per cell as pure role
    * algebra (q173's), never touching the corpus again. Components for
    * all cells run as ONE propagation over the composite (cell, id)
    * graph.
    *
    * Output per cell: cores / borders / noise, cluster count, and the
    * largest cluster's member count (the collapse detector — at sf1 it
    * IS the corpus at ε = 0.40). All counts are integers: no division,
    * no rounding, nothing for two engines to disagree on.
    */
  /** The shared ε₀-pair list with RAW cosines: the mode-aware pair
    * relation at the widest radius ([[DbscanEps]]) plus one O(E·d)
    * verify pass recovering each pair's unrounded cosine (rounded sims
    * would re-open the cross-engine midpoint class the r15 fixes
    * closed — downstream threshold filters compare unrounded doubles,
    * bit-identical in both engines). Memoized per (session, dir): the
    * parameter sweep (q184) and the threshold calibration (q193) both
    * re-filter this ONE frame instead of re-running pair generation.
    */
  private[graft] val rawEpsPairs = new Dedup.Memo[DataFrame]("eps_raw_pairs")((s, dir) => {
    val v = Similarity.vecs(s, dir)
    dbscanPairs(s, dir).select(col("keep_id"), col("drop_id"))
      .join(v.select(col("vec_id").as("keep_id"), col("v").as("va"), col("norm").as("na")), "keep_id")
      .join(v.select(col("vec_id").as("drop_id"), col("v").as("vb"), col("norm").as("nb")), "drop_id")
      .select(col("keep_id"), col("drop_id"),
        (dotFold(col("va"), col("vb")) / (col("na") * col("nb"))).as("rsim"))
      .localCheckpoint(true)
  })

  def q184DbscanSweep(s: SparkSession, dir: String): DataFrame = {
    // static half of the CellOffset precondition (see its Scaladoc): the
    // widest composite a grid this size can mint stays double-exact
    require(sweepGrid.size.toLong * CellOffset < (1L << 53),
      s"sweep grid of ${sweepGrid.size} cells overflows the 2^53-exact composite-id space")
    val gridLit = array(sweepGrid.map { case (c, e, m) =>
      struct(lit(c).as("cell"), lit(e).as("eps"), lit(m).as("mp")) }: _*)
    val mpByCell = array(sweepGrid.sortBy(_._1).map(g => lit(g._3)): _*)
    val raw = rawEpsPairs(s, dir)
    // per-cell directed edge list: literal-array explode (codegen, no
    // nested-loop join), E×|grid| rows max
    val cedges = raw
      .select(col("keep_id"), col("drop_id"), col("rsim"), explode(gridLit).as("g"))
      .filter(col("rsim") >= col("g.eps"))
      .select(col("g.cell").as("cell"), col("keep_id").as("a"), col("drop_id").as("b"))
    // ONE per-(cell, id) degree aggregate straight off the undirected
    // per-cell edge list (r20-opt: the r19 shape materialized a doubled
    // `both` frame — 2·E·|grid| rows through a checkpoint — and re-read
    // it with semi/anti joins for every role step; the explode below and
    // the annotated frame replace all of them). cedges itself is a
    // narrow explode+filter of the MEMOIZED raw-pair frame, so its two
    // consumers (this aggregate, the annotation joins) re-derive it
    // cheaply from materialized storage.
    val deg = cedges
      .select(col("cell"), explode(array(col("a"), col("b"))).as("id"))
      .groupBy(col("cell"), col("id")).agg(count(lit(1)).as("degree"))
    val core = deg
      .filter(col("degree") >= element_at(mpByCell, col("cell") + 1) - 1)
      .select(col("cell"), col("id"))
      .localCheckpoint(true)
    // per-cell edges with both endpoints' core flags attached in one pass
    // (the q173/q178 annotatePairs idiom, keyed by (cell, endpoint))
    val ann = cedges
      .join(core.select(col("cell"), col("id").as("a"), lit(true).as("a_core")),
        Seq("cell", "a"), "left")
      .join(core.select(col("cell"), col("id").as("b"), lit(true).as("b_core")),
        Seq("cell", "b"), "left")
      .select(col("cell"), col("a"), col("b"),
        coalesce(col("a_core"), lit(false)).as("a_core"),
        coalesce(col("b_core"), lit(false)).as("b_core"))
      .localCheckpoint(true)
    // ONE propagation over the composite core-core graph of all cells
    // (no checkpoint: minLabelPropagation materializes its own edge frame)
    val ce = ann.filter(col("a_core") && col("b_core"))
      .select((col("cell") * CellOffset + col("a")).as("doc_a"),
        (col("cell") * CellOffset + col("b")).as("doc_b"))
    val prop = Dedup.minLabelPropagation(ce)
    // every core gets a label; isolated cores are singleton clusters
    val lab = core
      .withColumn("cid", col("cell") * CellOffset + col("id"))
      .join(prop.withColumnRenamed("doc", "cid"), Seq("cid"), "left")
      .select(col("cell"), col("id"),
        (coalesce(col("comp"), col("cid")) % CellOffset).as("comp"))
      .localCheckpoint(true)
    val batt = ann.filter(col("a_core") =!= col("b_core"))
      .select(col("cell"),
        when(col("a_core"), col("a")).otherwise(col("b")).as("ca"),
        when(col("a_core"), col("b")).otherwise(col("a")).as("nc"))
      .join(lab.select(col("cell"), col("id").as("ca"), col("comp")), Seq("cell", "ca"))
      .groupBy(col("cell"), col("nc").as("id")).agg(min(col("comp")).as("bcomp"))
      .localCheckpoint(true)
    val csize = lab.select(col("cell"), col("comp"))
      .unionByName(batt.select(col("cell"), col("bcomp").as("comp")))
      .groupBy(col("cell"), col("comp")).agg(count(lit(1)).as("sz"))
    val clus = csize.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_clusters"), max(col("sz")).as("max_cluster"))
    val coreN = core.groupBy(col("cell")).agg(count(lit(1)).as("n_core"))
    val bordN = batt.groupBy(col("cell")).agg(count(lit(1)).as("n_border"))
    val tot = embeddings(s, dir).agg(count(lit(1)).as("n"))
    val gridDf = s.range(1).select(explode(gridLit).as("g"))
      .select(col("g.cell").as("cell"), col("g.eps").as("eps"), col("g.mp").as("mp"))
    gridDf
      .join(coreN, Seq("cell"), "left")
      .join(bordN, Seq("cell"), "left")
      .join(clus, Seq("cell"), "left")
      .crossJoin(tot) // 1-row aggregate build — bounded by construction
      .select(col("eps"), col("mp").as("min_pts"),
        coalesce(col("n_core"), lit(0L)).as("n_core"),
        coalesce(col("n_border"), lit(0L)).as("n_border"),
        (col("n") - coalesce(col("n_core"), lit(0L))
          - coalesce(col("n_border"), lit(0L))).as("n_noise"),
        coalesce(col("n_clusters"), lit(0L)).as("n_clusters"),
        coalesce(col("max_cluster"), lit(0L)).as("max_cluster"))
      .orderBy(col("eps"), col("min_pts"))
  }

  /** q184's oracle: the identical ε₀-graph (mode-aware SQL), the same
    * raw-cosine recovery, and the same per-cell role algebra with the
    * propagation unrolled over the composite (cell, id) node space —
    * [[dbscanRoundsCtes]] reused verbatim (it reads `ce`/`l0`, which here
    * hold composite ids).
    */
  /** The SQL twin of [[rawEpsPairs]] — the mode-aware ε₀ pair CTEs plus
    * the raw-cosine recovery, shared by the q184 and q193 oracles. */
  private def rawPairsSqlCtes: String = {
    s"""${Similarity.ndPairsSqlCtes(DbscanEps, DbscanCrossover)},
       |pairs AS MATERIALIZED (
       |  SELECT keep_id, drop_id FROM brute
       |  UNION ALL SELECT keep_id, drop_id FROM banded),
       |raw AS MATERIALIZED (
       |  SELECT p.keep_id, p.drop_id,
       |   ${Similarity.sqlDot("a.v", "b.v")} / (a.norm * b.norm) AS rsim
       |  FROM pairs p JOIN n a ON p.keep_id = a.vec_id JOIN n b ON p.drop_id = b.vec_id)""".stripMargin
  }

  val q184Sql: String = {
    val off = CellOffset
    val gridVals = sweepGrid
      .map { case (c, e, m) => s"($c, CAST($e AS DOUBLE), $m)" }.mkString(", ")
    s"""WITH $rawPairsSqlCtes,
       |grid AS (SELECT cell, eps, mp FROM (VALUES $gridVals) g(cell, eps, mp)),
       |cedges AS MATERIALIZED (
       |  SELECT g.cell, r.keep_id AS a, r.drop_id AS b
       |  FROM raw r JOIN grid g ON r.rsim >= g.eps
       |  UNION ALL
       |  SELECT g.cell, r.drop_id, r.keep_id
       |  FROM raw r JOIN grid g ON r.rsim >= g.eps),
       |deg AS (SELECT cell, a AS id, CAST(count(*) AS BIGINT) AS degree
       |  FROM cedges GROUP BY cell, a),
       |core AS MATERIALIZED (
       |  SELECT d.cell, d.id FROM deg d JOIN grid g ON d.cell = g.cell
       |  WHERE d.degree >= g.mp - 1),
       |ce AS MATERIALIZED (
       |  SELECT e.cell * $off + e.a AS a, e.cell * $off + e.b AS b
       |  FROM cedges e
       |  JOIN core ca ON e.cell = ca.cell AND e.a = ca.id
       |  JOIN core cb ON e.cell = cb.cell AND e.b = cb.id),
       |l0 AS (SELECT cell * $off + id AS doc, cell * $off + id AS comp FROM core),
       |${dbscanRoundsCtes(DbscanOracleRounds)},
       |lab2 AS MATERIALIZED (
       |  SELECT CAST(doc // $off AS INTEGER) AS cell, doc % $off AS id,
       |   comp % $off AS comp
       |  FROM l$DbscanOracleRounds),
       |batt AS MATERIALIZED (
       |  SELECT e.cell, e.b AS id, min(l.comp) AS bcomp
       |  FROM cedges e
       |  JOIN core ca ON e.cell = ca.cell AND e.a = ca.id
       |  LEFT JOIN core cb ON e.cell = cb.cell AND e.b = cb.id
       |  JOIN lab2 l ON l.cell = e.cell AND l.id = e.a
       |  WHERE cb.id IS NULL
       |  GROUP BY e.cell, e.b),
       |csize AS (
       |  SELECT cell, comp, CAST(count(*) AS BIGINT) AS sz FROM (
       |    SELECT cell, comp FROM lab2
       |    UNION ALL SELECT cell, bcomp AS comp FROM batt) m
       |  GROUP BY cell, comp),
       |clus AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_clusters,
       |  max(sz) AS max_cluster FROM csize GROUP BY cell),
       |coren AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_core FROM core GROUP BY cell),
       |bordn AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_border FROM batt GROUP BY cell),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings)
       |SELECT g.eps, g.mp AS min_pts,
       | COALESCE(coren.n_core, 0) AS n_core,
       | COALESCE(bordn.n_border, 0) AS n_border,
       | tot.n - COALESCE(coren.n_core, 0) - COALESCE(bordn.n_border, 0) AS n_noise,
       | COALESCE(clus.n_clusters, 0) AS n_clusters,
       | COALESCE(clus.max_cluster, 0) AS max_cluster
       |FROM grid g CROSS JOIN tot
       |LEFT JOIN coren ON g.cell = coren.cell
       |LEFT JOIN bordn ON g.cell = bordn.cell
       |LEFT JOIN clus ON g.cell = clus.cell
       |ORDER BY g.eps, g.mp""".stripMargin
  }

  // ---------------------------------------------------------------- q193

  /** Cosine thresholds q193 calibrates — from the clustering radius up
    * through q67's dedup bar to q161's production near-copy bar. */
  val CalibThresholds: Seq[Double] = Seq(0.40, 0.45, 0.50, 0.60, 0.70, 0.80, 0.90)

  /** q193: similarity-threshold calibration against labels — for each
    * candidate cosine bar, how many pairs the corpus yields and what
    * fraction share a label (the proxy for "really the same content").
    * This is how a dedup bar is actually chosen when a labeled subset
    * exists: sweep the threshold, read the purity/volume trade-off,
    * pick the knee — BEFORE committing a 100 TB dedup pass to one
    * number (q67's 0.45 and q161's 0.95 become measured choices, not
    * conventions).
    *
    * Scale shape: re-filters the ONE memoized raw-cosine pair frame
    * ([[rawEpsPairs]] — no new pair generation), joins the corpus's
    * (vec_id, label) projection twice, and explodes against the literal
    * threshold array into a 7-row hash aggregate. Integer counts only;
    * threshold filters compare unrounded doubles.
    */
  def q193ThresholdCalibration(s: SparkSession, dir: String): DataFrame = {
    val lab = embeddings(s, dir).select(col("vec_id"), col("label"))
    val pl = rawEpsPairs(s, dir)
      .join(lab.select(col("vec_id").as("keep_id"), col("label").as("la")), "keep_id")
      .join(lab.select(col("vec_id").as("drop_id"), col("label").as("lb")), "drop_id")
      .select(col("rsim"), when(col("la") === col("lb"), 1L).otherwise(0L).as("same"))
    val agg = pl.select(col("rsim"), col("same"),
        explode(typedlit(CalibThresholds)).as("thr"))
      .filter(col("rsim") >= col("thr"))
      .groupBy(col("thr"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("same")).as("n_same_label"))
    s.range(1).select(explode(typedlit(CalibThresholds)).as("thr"))
      .join(agg, Seq("thr"), "left")
      .select(col("thr"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_same_label"), lit(0L)).as("n_same_label"),
        (coalesce(col("n_pairs"), lit(0L))
          - coalesce(col("n_same_label"), lit(0L))).as("n_cross_label"))
      .orderBy(col("thr"))
  }

  val q193Sql: String = {
    val vals = CalibThresholds.map(t => s"(CAST($t AS DOUBLE))").mkString(", ")
    s"""WITH $rawPairsSqlCtes,
       |grid AS (SELECT thr FROM (VALUES $vals) g(thr)),
       |pl AS (
       |  SELECT r.rsim, CASE WHEN la.label = lb.label THEN 1 ELSE 0 END AS same
       |  FROM raw r
       |  JOIN embeddings la ON r.keep_id = la.vec_id
       |  JOIN embeddings lb ON r.drop_id = lb.vec_id),
       |agg AS (
       |  SELECT g.thr, CAST(count(*) AS BIGINT) AS n_pairs,
       |   CAST(sum(pl.same) AS BIGINT) AS n_same_label
       |  FROM pl, grid g WHERE pl.rsim >= g.thr GROUP BY g.thr)
       |SELECT g.thr,
       | COALESCE(agg.n_pairs, 0) AS n_pairs,
       | COALESCE(agg.n_same_label, 0) AS n_same_label,
       | COALESCE(agg.n_pairs, 0) - COALESCE(agg.n_same_label, 0) AS n_cross_label
       |FROM grid g LEFT JOIN agg ON g.thr = agg.thr
       |ORDER BY g.thr""".stripMargin
  }
}
