package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.TextFns.{hash32, hash32Sql, qualityScore, qualitySqlExpr, words, wordsSql}

/** Model-based curation — the two trained-model stages a production
  * pipeline runs after the heuristic filters (r17 verdict asks #2/#3):
  *
  *   - q201: a TRAINED quality classifier — fixed-round distributed
  *     logistic-regression training (hashed bag-of-words + engineered
  *     features, hard-sigmoid, integer-grid gradient quantization) whose
  *     every training round the DuckDB oracle replays arithmetic-for-
  *     arithmetic. The fastText-style recipe: cheap heuristic labels, a
  *     linear model over hashed features that generalizes them.
  *   - q202: DSIR-style importance resampling — hashed-n-gram importance
  *     weights (target-vs-raw log-likelihood ratio, add-one smoothed)
  *     and a Gumbel top-k race, the public Xie et al. 2023 recipe
  *     composed from shipped parts (q143's feature hashing, q84's LM
  *     scoring shape, q79's deterministic race).
  *
  * Exactness discipline (what makes the oracle replay possible):
  * q201 keeps EVERY training quantity on an integer grid or in exactly-
  * reproducible IEEE arithmetic — weights are integers in units of
  * 2^-20, margins are exact BIGINT dot products, the hard sigmoid
  * clamp(0.25·z + 0.5, 0, 1) uses only +,*,/ by powers of two (no libm
  * anywhere), per-row gradient contributions are floor-quantized back to
  * the 2^-20 grid BEFORE summing (so partial aggregation is order-free
  * integer addition — the q182 trick), and the learning-rate step is a
  * floor division. Two engines running this recipe agree bit-for-bit,
  * which is why the gate can hash-compare margins, not just verdicts.
  * q202 follows the q79/q84 precedent instead: ln is libm (last-ulp
  * cross-engine drift ~1e-15), reported columns are rounded to 4dp, and
  * the race-key boundary gap is continuous-hash-driven (measured 2.2e-3
  * at sf0.01 — eleven orders above the drift), so the selected set is
  * stable.
  */
object ModelCuration {

  // ---------------------------------------------------------------- q201

  /** Hashed bag-of-words bucket count for the classifier (the q143
    * hashing-trick space, sized so the fixture vocabulary genuinely
    * shares buckets). */
  val QfBuckets: Int = 64

  /** Feature indices of the engineered columns appended after the BoW
    * block: bias, capped-centered token count, capped-centered
    * punctuation chars, centered distinct-token count. Centering is
    * load-bearing: it puts the separating hyperplane near the origin, so
    * few fixed GD rounds reach it (uncentered counts stall at the
    * majority-class predictor — measured). */
  val QfBias: Int = QfBuckets
  val QfLen: Int = QfBuckets + 1
  val QfPunct: Int = QfBuckets + 2
  val QfDistinct: Int = QfBuckets + 3
  val QfDim: Int = QfBuckets + 4
  val QfLenCap: Int = 50
  val QfLenCenter: Int = 25
  val QfPunctCap: Int = 100
  val QfPunctCenter: Int = 8
  val QfDistinctCenter: Int = 15

  /** Fixed-point scale: weights live on the 2^-20 grid. */
  val QfScale: Long = 1L << 20

  /** Learning-rate shift: each round's step is
    * floor(Σ-gradient / (n · 2^QfEtaShift)) in grid units — lr = 2^-5 on
    * the mean quantized gradient. Chosen with the round count on the
    * real corpus: loss 0.25 → 0.028 monotone and accuracy ≥ 0.95 at
    * sf0.001/sf0.01/sf0.1 alike (measured; the spec pins the trajectory
    * shape, the oracle pins every number). */
  val QfEtaShift: Int = 5
  val QfRounds: Int = 10

  /** The (doc_id, b, x) feature frame + (doc_id, y) labels. One corpus
    * pass: tokenize, hash32 % B with counts (map-side combined), append
    * the four engineered rows per doc. Labels are the q18 composite
    * quality heuristic thresholded at 0.5 — the fastText-style recipe
    * trains a cheap linear model to GENERALIZE heuristic labels, so the
    * label source being a shipped, oracle-verified function is exactly
    * the production shape (weak supervision), not circularity: the model
    * sees hashed counts, never the heuristic's inputs.
    */
  private[graft] def qfFeatures(s: SparkSession, dir: String): DataFrame = {
    val base = resplit(documents(s, dir).select(col("doc_id"), col("text")))
      .withColumn("ws", words(col("text")))
    val bow = base
      .select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy(col("doc_id"), (hash32(col("w")) % QfBuckets).as("b"))
      .agg(count(lit(1)).as("x"))
    val punct = (length(col("text")) -
      length(regexp_replace(col("text"), "[^a-z0-9\\s]", ""))).cast("long")
    val eng = base.select(col("doc_id"),
        lit(QfBias.toLong).as("b_bias"), lit(1L).as("x_bias"),
        (least(size(col("ws")).cast("long"), lit(QfLenCap.toLong)) - QfLenCenter).as("x_len"),
        (least(punct, lit(QfPunctCap.toLong)) - QfPunctCenter).as("x_punct"),
        (size(array_distinct(col("ws"))).cast("long") - QfDistinctCenter).as("x_dist"))
      .select(col("doc_id"), explode(array(
        struct(lit(QfBias.toLong).as("b"), col("x_bias").as("x")),
        struct(lit(QfLen.toLong).as("b"), col("x_len").as("x")),
        struct(lit(QfPunct.toLong).as("b"), col("x_punct").as("x")),
        struct(lit(QfDistinct.toLong).as("b"), col("x_dist").as("x")))).as("f"))
      .select(col("doc_id"), col("f.b").as("b"), col("f.x").as("x"))
    bow.unionByName(eng).filter(col("x") =!= 0L)
  }

  private[graft] def qfLabels(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).select(col("doc_id"),
      when(qualityScore(col("text")) >= 0.5, 1L).otherwise(0L).as("y"))

  /** The hard sigmoid on the exact grid: clamp(0.25·(zs/2^20) + 0.5, 0, 1).
    * Powers of two only — every engine computes the identical double. */
  private def hardSigmoid(zs: Column): Column =
    least(greatest(lit(0.25) * (zs.cast("double") / lit(QfScale.toDouble)) + lit(0.5),
      lit(0.0)), lit(1.0))

  /** A trained model: the final weight vector (grid units), the
    * per-round (mean squared loss, accuracy) history, and the cached
    * feature/label frames so scoring reuses the one corpus pass. */
  private[graft] case class QfModel(weights: Array[Long],
      history: Seq[(Double, Double)], feats: DataFrame, labels: DataFrame)

  /** One full training run: T rounds of exact-arithmetic batch GD. The
    * weight vector lives on the driver (QfDim longs — the MLlib
    * treeAggregate shape: the MODEL is tiny, the DATA never leaves the
    * executors); each round runs one small job over the cached feature
    * frame — the b-keyed quantized-gradient aggregate (QfDim rows
    * collected). With `withHistory` a second scalar job per round records
    * the (loss, accuracy) trajectory; the OBSERVABILITY is optional, the
    * training arithmetic is identical either way (the spec turns it on to
    * pin monotone loss, the production path leaves it off — it halves the
    * per-round job count).
    *
    * Scale shape: the corpus-sized work (tokenize + bucket counts) runs
    * ONCE into the cached feature frame of ~(n·40) rows; each of the T
    * rounds shuffles only that frame (doc-keyed margin agg + b-keyed
    * gradient agg) and moves QfDim longs to the driver — at a 1000-
    * executor corpus the per-round network cost is the two small
    * shuffles, the classic distributed-GD profile.
    */
  private[graft] def qfTrain(s: SparkSession, dir: String,
      withHistory: Boolean = false): QfModel = {
    // Both frames are pre-partitioned by doc_id BEFORE the eager
    // checkpoint (LogicalRDD preserves outputPartitioning), so each GD
    // round's chain — margins groupBy(doc_id), the labels join, and the
    // gradient's feats-join — reuses the one established exchange and
    // the round's only NEW shuffle is the QfDim-row groupBy(b). Before
    // this (r19-opt) every round paid ~4 exchanges; at sf0.1 the 10
    // rounds dominated the qf_margins memo build (9.3 s), and at
    // cluster scale re-shuffling the feature frame twice per round is
    // pure waste. Integer-grid arithmetic everywhere → results are
    // partitioning-invariant by construction.
    // Explicit partition COUNT (the session's shuffle parallelism, so it
    // scales with the conf, not the fixture): a bare repartition(col) is
    // AQE-coalescible per-frame, and two frames coalesced to DIFFERENT
    // counts are no longer co-partitioned — the joins would re-insert
    // the very exchanges this removes.
    val np = s.conf.get("spark.sql.shuffle.partitions").toInt
    val feats = qfFeatures(s, dir).repartition(np, col("doc_id")).localCheckpoint(true)
    val labels = qfLabels(s, dir).repartition(np, col("doc_id")).localCheckpoint(true)
    val n = labels.count()
    val k = new Array[Long](QfDim)
    val history = Seq.newBuilder[(Double, Double)]
    for (_ <- 1 to QfRounds) {
      val resid = feats.join(broadcast(weightsDf(s, k)), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(sum(col("k") * col("x")).as("zs"))
        .join(labels, Seq("doc_id"))
        .select(col("doc_id"),
          (hardSigmoid(col("zs")) - col("y").cast("double")).as("r"),
          col("zs"), col("y"))
      val grads = feats.join(resid.select(col("doc_id"), col("r")), Seq("doc_id"))
        .groupBy(col("b"))
        .agg(sum(floor(col("r") * col("x") * lit(QfScale.toDouble))).as("g"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      if (withHistory) {
        val metrics = resid.agg(
          sum(col("r") * col("r")).as("sse"),
          sum(when((col("zs") > 0L) === (col("y") === 1L), 1L).otherwise(0L)).as("ok"))
          .collect()(0)
        history += ((metrics.getDouble(0) / n, metrics.getLong(1).toDouble / n))
      }
      var b = 0
      while (b < QfDim) {
        val g = grads.getOrElse(b.toLong, 0L)
        k(b) -= math.floor(g.toDouble / (n.toDouble * (1L << QfEtaShift).toDouble)).toLong
        b += 1
      }
    }
    QfModel(k, history.result(), feats, labels)
  }

  private def weightsDf(s: SparkSession, k: Array[Long]): DataFrame = {
    import s.implicits._
    k.toSeq.zipWithIndex.map { case (w, b) => (b.toLong, w) }.toDF("b", "k")
  }

  /** Memoized (session, dir)-scoped margin frame (doc_id, y, margin):
    * one full training run + scoring pass, shared by q201 (the filter
    * artifact) and q208 (the operating-point sweep over the SAME
    * margins) — the classifier trains once per session, exactly like the
    * dedup pair memos. Doc-count-sized, eagerly checkpointed.
    */
  private[graft] val qfMarginsCached = new Dedup.Memo[DataFrame]("qf_margins")((s, dir) => {
    val m = qfTrain(s, dir)
    m.feats.join(broadcast(weightsDf(s, m.weights)), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k") * col("x")).as("margin"))
      .join(m.labels, Seq("doc_id"))
      .select(col("doc_id"), col("y"), col("margin"))
      .localCheckpoint(true)
  })

  /** q201: TRAINED quality-filter classifier — train [[QfRounds]] exact
    * GD rounds, then score every document with the final weights. Output
    * is the filter artifact itself: the exact integer margin (in 2^-20
    * units), the keep/drop verdict, and its agreement with the heuristic
    * label — hash-exact end to end because nothing in training or
    * scoring ever leaves the integer grid / exact-IEEE path. Accuracy on
    * the corpus is ~0.95 against a 0.78 majority class (measured at
    * three scales; the spec pins monotone loss + ≥0.9 accuracy + a
    * plain-Scala replay of the full training loop).
    */
  def q201QualityClassifier(s: SparkSession, dir: String): DataFrame =
    qfMarginsCached(s, dir)
      .select(col("doc_id"), col("y").as("label"), col("margin"),
        (col("margin") > 0L).as("pred"),
        ((col("margin") > 0L) === (col("y") === 1L)).as("correct"))
      .orderBy(col("doc_id"))

  /** q201's oracle: the IDENTICAL training loop unrolled — [[QfRounds]]
    * rounds of (margins ⨝ weights, hard-sigmoid residuals, floor-
    * quantized gradient sums, floor-division weight step) as chained
    * CTEs, then the final-margin scoring pass. Every arithmetic step is
    * integer or exactly-reproducible IEEE (powers of two only), so the
    * compare is hash-exact on the margins themselves — the oracle
    * RETRAINS the model, it does not check a verdict. */
  /** The q201 training chain as a reusable WITH-body (no `WITH` prefix,
    * no trailing comma): tokenization → labels → features → [[QfRounds]]
    * unrolled GD rounds → `fm` (final margins) and `lab` (labels) in
    * scope for the caller's SELECT. Shared by [[q201Sql]] and
    * [[q208Sql]] so the two oracles can never train different models.
    */
  private val qfTrainCtes: String = {
    val S = QfScale
    val eta = 1L << QfEtaShift
    def round(i: Int): String = {
      val prev = if (i == 1) "w0" else s"w${i - 1}"
      s"""m$i AS MATERIALIZED (
         |  SELECT f.doc_id, CAST(sum(w.k * f.x) AS BIGINT) AS zs
         |  FROM feat f JOIN $prev w USING (b) GROUP BY f.doc_id),
         |r$i AS MATERIALIZED (
         |  SELECT m.doc_id,
         |   least(greatest(0.25 * (CAST(zs AS DOUBLE) / $S.0) + 0.5, 0.0), 1.0) - y AS r
         |  FROM m$i m JOIN lab USING (doc_id)),
         |g$i AS MATERIALIZED (
         |  SELECT f.b, CAST(sum(CAST(floor(r * f.x * $S.0) AS BIGINT)) AS BIGINT) AS g
         |  FROM feat f JOIN r$i USING (doc_id) GROUP BY f.b),
         |w$i AS MATERIALIZED (
         |  SELECT w.b,
         |   w.k - CAST(floor(CAST(coalesce(g.g, 0) AS DOUBLE) / (CAST(n AS DOUBLE) * $eta.0)) AS BIGINT) AS k
         |  FROM $prev w LEFT JOIN g$i g USING (b) CROSS JOIN nn)""".stripMargin
    }
    s"""ww AS MATERIALIZED (
       |  SELECT doc_id, text, ${wordsSql("text")} AS w
       |  FROM documents),
       |lab AS MATERIALIZED (
       |  SELECT doc_id,
       |   CASE WHEN ${qualitySqlExpr("w", "text")} >= 0.5 THEN 1 ELSE 0 END AS y
       |  FROM ww),
       |tok AS MATERIALIZED (SELECT doc_id, unnest(w) AS t FROM ww),
       |bow AS MATERIALIZED (
       |  SELECT doc_id,
       |   ${hash32Sql("t")} % $QfBuckets AS b,
       |   CAST(count(*) AS BIGINT) AS x
       |  FROM tok GROUP BY 1, 2),
       |eng AS MATERIALIZED (
       |  SELECT doc_id, CAST($QfBias AS BIGINT) AS b, CAST(1 AS BIGINT) AS x FROM ww
       |  UNION ALL SELECT doc_id, $QfLen,
       |    least(CAST(len(w) AS BIGINT), $QfLenCap) - $QfLenCenter FROM ww
       |  UNION ALL SELECT doc_id, $QfPunct,
       |    least(CAST(length(text) - length(regexp_replace(text, '[^a-z0-9\\s]', '', 'g')) AS BIGINT), $QfPunctCap) - $QfPunctCenter FROM ww
       |  UNION ALL SELECT doc_id, $QfDistinct,
       |    CAST(len(list_distinct(w)) AS BIGINT) - $QfDistinctCenter FROM ww),
       |feat AS MATERIALIZED (
       |  SELECT doc_id, b, x FROM bow WHERE x <> 0
       |  UNION ALL SELECT doc_id, b, x FROM eng WHERE x <> 0),
       |nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |w0 AS MATERIALIZED (SELECT CAST(t.b AS BIGINT) AS b, CAST(0 AS BIGINT) AS k FROM range(0, $QfDim) t(b)),
       |${(1 to QfRounds).map(round).mkString(",\n")},
       |fm AS MATERIALIZED (
       |  SELECT f.doc_id, CAST(sum(w.k * f.x) AS BIGINT) AS margin
       |  FROM feat f JOIN w$QfRounds w USING (b) GROUP BY f.doc_id)""".stripMargin
  }

  val q201Sql: String =
    s"""WITH $qfTrainCtes
       |SELECT l.doc_id, CAST(l.y AS BIGINT) AS label, fm.margin,
       | fm.margin > 0 AS pred, (fm.margin > 0) = (l.y = 1) AS correct
       |FROM lab l JOIN fm USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q202

  /** Hashed-n-gram space for the importance model (q143's trick at the
    * DSIR paper's granularity) and the resample size. */
  val DsBuckets: Int = 256
  val DsK: Int = 100

  /** The DSIR target domain: English documents (the "high-quality
    * reference corpus" slot in the public recipe — any held-out target
    * distribution works; the fixture's lang column is its stand-in). */
  val DsTargetLang: String = "en"

  /** q202: DSIR-style importance RESAMPLING — select [[DsK]] documents
    * whose hashed-unigram distribution looks most like the target
    * domain, via the public two-step: (1) per-document importance weight
    * log w_d = Σ_b c_db · (ln p̂_target(b) − ln p̂_raw(b)) with add-one-
    * smoothed bucket models; (2) Gumbel top-k — key = log w_d + Gumbel
    * (deterministic uniform from the doc id), take the K largest — which
    * samples WITHOUT replacement with probability ∝ w_d (Efraimidis–
    * Spirakis in Gumbel form, q79's race with the weight moved into the
    * key).
    *
    * Scale shape: one corpus-sized explode + (doc, bucket) map-side-
    * combined count; the two bucket models are B-row aggregates OF that
    * frame and ride back as one broadcast; the race is a bounded top-k
    * (`TakeOrderedAndProject` — K·partitions rows cross the wire, never
    * a sort). No all-pairs, no iteration: the importance model is
    * closed-form counting, which is exactly why DSIR scales to
    * pretraining corpora in the paper.
    *
    * Cross-engine determinism: ln is libm (q79/q84 precedent) — reported
    * doubles are rounded to 4dp and the selection boundary gap measured
    * 2.2e-3 at sf0.01, eleven orders above last-ulp drift; exact key
    * ties are structurally absent from a continuous hash draw.
    */
  def q202ImportanceResample(s: SparkSession, dir: String): DataFrame = {
    val d = resplit(documents(s, dir).select(col("doc_id"), col("lang"), col("text")))
    // lang rides the (doc, bucket) aggregate key (doc_id determines it, so
    // the groups are unchanged) — the target model is then a FILTER of
    // this frame, never a join against a target-id set that at corpus
    // scale is half the ids and unbroadcastable
    // Materialized (r19-opt): x feeds THREE consumers (raw model, target
    // model, per-doc weight sum) and Spark does not CSE across them — the
    // corpus explode + aggregate ran three times per query. Bounded frame:
    // ≤ DsBuckets rows per document.
    val x = d.select(col("doc_id"), col("lang"), explode(words(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("lang"), (hash32(col("w")) % DsBuckets).as("b"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val raw = x.groupBy(col("b")).agg(sum(col("c")).as("cr"))
    val tgt = x.filter(col("lang") === DsTargetLang)
      .groupBy(col("b")).agg(sum(col("c")).as("ct"))
    val totals = raw.agg(sum(col("cr")).as("nr")).crossJoin(
      tgt.agg(sum(col("ct")).as("nt")))
    val model = raw.join(tgt, Seq("b"), "left").crossJoin(broadcast(totals))
      .select(col("b"),
        (log((coalesce(col("ct"), lit(0L)) + lit(1L)).cast("double") / (col("nt") + lit(DsBuckets.toDouble)))
          - log((col("cr") + lit(1L)).cast("double") / (col("nr") + lit(DsBuckets.toDouble)))).as("lam"))
    val u = TrainingData.uhash(col("doc_id"), "q202")
    // lang and n_tokens come from x itself (r19-opt): doc_id determines
    // lang so grouping by both leaves the groups unchanged, and every
    // token lands in exactly one bucket so Σc per doc IS size(words(text))
    // — the second corpus scan + re-tokenize the n_tokens join paid is
    // gone. Zero-token docs are absent either way (no x rows before, no
    // logw row to inner-join after).
    x.join(broadcast(model), Seq("b"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c").cast("double") * col("lam")).as("logw"),
        sum(col("c")).as("n_tokens"))
      .withColumn("gkey", col("logw") - log(-log(u)))
      .orderBy(col("gkey").desc, col("doc_id"))
      .limit(DsK)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        round(col("logw"), 4).as("log_weight"), round(col("gkey"), 4).as("race_key"))
  }

  val q202Sql: String =
    s"""WITH ww AS (
       |  SELECT doc_id, lang, ${wordsSql("text")} AS w
       |  FROM documents),
       |tok AS (SELECT doc_id, lang, unnest(w) AS t FROM ww),
       |x AS (
       |  SELECT doc_id, lang,
       |   ${hash32Sql("t")} % $DsBuckets AS b,
       |   CAST(count(*) AS BIGINT) AS c
       |  FROM tok GROUP BY 1, 2, 3),
       |raw AS (SELECT b, CAST(sum(c) AS BIGINT) AS cr FROM x GROUP BY b),
       |tgt AS (
       |  SELECT b, CAST(sum(c) AS BIGINT) AS ct
       |  FROM x WHERE lang = '$DsTargetLang'
       |  GROUP BY b),
       |tots AS (
       |  SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS nr,
       |         (SELECT CAST(sum(ct) AS BIGINT) FROM tgt) AS nt),
       |model AS (
       |  SELECT r.b,
       |   ln(CAST(coalesce(t.ct, 0) + 1 AS DOUBLE) / (nt + $DsBuckets.0))
       |   - ln(CAST(r.cr + 1 AS DOUBLE) / (nr + $DsBuckets.0)) AS lam
       |  FROM raw r LEFT JOIN tgt t USING (b) CROSS JOIN tots),
       |lw AS (
       |  SELECT doc_id, sum(c * lam) AS logw
       |  FROM x JOIN model USING (b) GROUP BY doc_id),
       |scored AS (
       |  SELECT w.doc_id, w.lang, CAST(len(w.w) AS BIGINT) AS n_tokens, lw.logw,
       |   lw.logw - ln(-ln(${TrainingData.uhashSql("w.doc_id", "q202")})) AS gkey
       |  FROM ww w JOIN lw ON w.doc_id = lw.doc_id)
       |SELECT doc_id, lang, n_tokens,
       | ROUND(logw, 4) AS log_weight, ROUND(gkey, 4) AS race_key
       |FROM scored ORDER BY gkey DESC, doc_id LIMIT $DsK""".stripMargin

  // ---------------------------------------------------------------- q207

  /** Hashed-unigram bucket space for the DoReMi proxy distributions
    * (q202's granularity), the distribution grid (2^-12: per-source
    * bucket shares quantize to integers in [0, 4096]), the weight grid
    * (2^-20, [[QfScale]]'s convention), the damping constant (the 1/η of
    * the multiplicative update — the factor is ∝ DmDamp + L_s, so a
    * source whose loss doubles the field's gets a visibly larger
    * multiplier), the pre-normalization downshift (overflow headroom:
    * keeps A·2^20 inside int64 for any source count), the smoothing
    * shift (ε = 2^-5 of the mass redistributes uniformly each round —
    * the paper's own boundedness fix, keeping every weight ≥ ε/K), and
    * the fixed round count.
    */
  val DmBuckets: Int = 256
  val DmScale: Long = 1L << 12
  val DmWeight: Long = 1L << 20
  val DmDamp: Long = 1L << 12
  val DmShift: Long = 1L << 12
  val DmEpsShift: Int = 5
  val DmRounds: Int = 8

  /** q207: DoReMi-style MIXTURE-WEIGHT optimization — the third member
    * of the model-based curation family (q201 judges documents, q202
    * resamples toward a target, q207 learns the per-SOURCE mixture the
    * q49/q74 mixture operators consume): fixed-round multiplicative-
    * weights updates over per-source excess loss, the Group-DRO shape of
    * Xie et al. 2023's public DoReMi recipe.
    *
    * Exact-arithmetic surrogate (q201's discipline, so the oracle
    * RETRAINS the weights and the compare is hash-exact): the proxy
    * model is the mixture-weighted hashed-unigram distribution and a
    * source's excess loss is its squared L2 distance from it on the
    * [[DmScale]] integer grid — the no-libm stand-in for the paper's
    * proxy-vs-reference log-perplexity gap (same dynamic: a domain the
    * current mixture models poorly gets upweighted, the mixture chases
    * it, equilibrium balances coverage). Per round, ALL in int64:
    *
    *   M_b  = ⌊Σ_s α_s·P_sb / 2^20⌋            (mixture distribution)
    *   L_s  = Σ_b (P_sb − M_b)²                 (excess loss, integer)
    *   A_s  = ⌊α_s·(DmDamp + L_s) / DmShift⌋    (MW update 1 + η·ℓ)
    *   α'_s = ⌊⌊A_s·2^20/ΣA⌋·31/32⌋ + ⌊⌊2^20/K⌋/32⌋   (normalize + ε-smooth)
    *
    * Scale shape: the corpus-sized work is ONE tokenize + (source,
    * bucket) map-side-combined count; the collected state is the
    * sources×buckets quantized distribution table (K·256 longs — the
    * q174 Gramian contract: the MODEL is aggregate-bounded, the data
    * never leaves the executors) and the T-round loop is driver-side
    * integer arithmetic on K weights. Output: one row per source with
    * the final weight (grid units + the exact power-of-two-division
    * double — no rounding surface anywhere) and the final-round loss.
    */
  def q207DoremiMixture(s: SparkSession, dir: String): DataFrame = {
    val d = resplit(documents(s, dir).select(col("doc_id"), col("source"), col("text")))
    val counts = d.select(col("source"), explode(words(col("text"))).as("w"))
      .groupBy(col("source"), (hash32(col("w")) % DmBuckets).as("b"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val raw = counts.collect()
      .map(r => (r.getString(0), r.getLong(1).toInt, r.getLong(2)))
    val srcs = raw.map(_._1).distinct.sorted
    val k = srcs.length
    val idx = srcs.zipWithIndex.toMap
    val cs = new Array[Long](k)
    raw.foreach { case (src, _, c) => cs(idx(src)) += c }
    srcs.indices.foreach(i => require(cs(i) > 0L,
      s"source ${srcs(i)} has no tokens — the distribution grid is undefined"))
    val p = Array.ofDim[Long](k, DmBuckets)
    raw.foreach { case (src, b, c) => p(idx(src))(b) = c * DmScale / cs(idx(src)) }
    val eps = 1L << DmEpsShift
    var alpha = Array.fill(k)(DmWeight / k)
    var loss = new Array[Long](k)
    for (_ <- 1 to DmRounds) {
      val m = Array.tabulate(DmBuckets) { b =>
        var acc = 0L; var i = 0
        while (i < k) { acc += alpha(i) * p(i)(b); i += 1 }
        acc / DmWeight
      }
      loss = Array.tabulate(k) { i =>
        var acc = 0L; var b = 0
        while (b < DmBuckets) { val d0 = p(i)(b) - m(b); acc += d0 * d0; b += 1 }
        acc
      }
      val a = Array.tabulate(k)(i => alpha(i) * (DmDamp + loss(i)) / DmShift)
      val tot = a.sum
      alpha = Array.tabulate(k)(i =>
        a(i) * DmWeight / tot * (eps - 1) / eps + (DmWeight / k) / eps)
    }
    import s.implicits._
    val wdf = srcs.indices
      .map(i => (srcs(i), loss(i), alpha(i)))
      .toDF("source", "loss", "weight_grid")
    val stats = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val toks = counts.groupBy(col("source")).agg(sum(col("c")).as("n_tokens"))
    stats.join(toks, Seq("source")).join(broadcast(wdf), Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("loss"),
        col("weight_grid"),
        // exact power-of-two division of an int64 grid value: the same
        // double bit-for-bit in both engines, so no ROUND (whose 4/6dp
        // midpoints a 2^-20 grid CAN land on — the q179 hazard) is needed
        (col("weight_grid").cast("double") / lit(DmWeight.toDouble)).as("weight"))
      .orderBy(col("source"))
  }

  /** q207's oracle: the IDENTICAL fixed-round loop unrolled over a DENSE
    * (source × bucket) grid — mixture, loss, update, normalize+smooth
    * per round as chained MATERIALIZED CTEs in pure BIGINT floor
    * arithmetic (DuckDB `//` ≡ the engine's positive-long division), so
    * the weight compare is hash-exact: the oracle retrains the mixture,
    * it does not check a verdict.
    */
  val q207Sql: String = {
    val W = DmWeight
    val eps = 1L << DmEpsShift
    def round(i: Int): String = {
      val prev = if (i == 1) "a0" else s"a${i - 1}"
      s"""m$i AS MATERIALIZED (
         |  SELECT p.b, CAST(sum(a.a * p.p) // $W AS BIGINT) AS m
         |  FROM p JOIN $prev a USING (source) GROUP BY p.b),
         |l$i AS MATERIALIZED (
         |  SELECT p.source, CAST(sum((p.p - m.m) * (p.p - m.m)) AS BIGINT) AS l
         |  FROM p JOIN m$i m USING (b) GROUP BY p.source),
         |u$i AS MATERIALIZED (
         |  SELECT a.source, CAST((a.a * ($DmDamp + l.l)) // $DmShift AS BIGINT) AS u
         |  FROM $prev a JOIN l$i l USING (source)),
         |t$i AS MATERIALIZED (SELECT CAST(sum(u) AS BIGINT) AS tot FROM u$i),
         |a$i AS MATERIALIZED (
         |  SELECT u.source,
         |   CAST((((u.u * $W) // t.tot) * ${eps - 1}) // $eps
         |        + (($W // kk.k) // $eps) AS BIGINT) AS a
         |  FROM u$i u CROSS JOIN t$i t CROSS JOIN kk)""".stripMargin
    }
    s"""WITH ww AS (
       |  SELECT doc_id, source, ${wordsSql("text")} AS w
       |  FROM documents),
       |tok AS (SELECT source, unnest(w) AS t FROM ww),
       |cc AS (
       |  SELECT source,
       |   ${hash32Sql("t")} % $DmBuckets AS b,
       |   CAST(count(*) AS BIGINT) AS c
       |  FROM tok GROUP BY 1, 2),
       |srcs AS (SELECT DISTINCT source FROM documents),
       |kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM srcs),
       |ct AS (SELECT source, CAST(sum(c) AS BIGINT) AS cs FROM cc GROUP BY source),
       |grid AS (
       |  SELECT srcs.source, CAST(t.b AS BIGINT) AS b
       |  FROM srcs CROSS JOIN range(0, $DmBuckets) t(b)),
       |p AS MATERIALIZED (
       |  SELECT g.source, g.b,
       |   CAST((COALESCE(cc.c, 0) * $DmScale) // ct.cs AS BIGINT) AS p
       |  FROM grid g
       |   LEFT JOIN cc ON g.source = cc.source AND g.b = cc.b
       |   JOIN ct ON g.source = ct.source),
       |a0 AS MATERIALIZED (
       |  SELECT source, CAST($W // kk.k AS BIGINT) AS a FROM srcs CROSS JOIN kk),
       |${(1 to DmRounds).map(round).mkString(",\n")},
       |nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source)
       |SELECT nd.source, nd.n_docs, ct.cs AS n_tokens,
       | l$DmRounds.l AS loss, a$DmRounds.a AS weight_grid,
       | CAST(a$DmRounds.a AS DOUBLE) / $W.0 AS weight
       |FROM nd
       | JOIN ct USING (source)
       | JOIN l$DmRounds USING (source)
       | JOIN a$DmRounds USING (source)
       |ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q208

  /** Margin bars swept by q208, in z units (margin / 2^20). Quarters and
    * integers only, so every bar is an EXACT long on the margin grid;
    * placed where the fixture margins actually trade off (the measured
    * distribution is bimodal: negatives cluster near −2, positives near
    * +7 — bars cover the precision ramp, the recall knee at +1, and the
    * near-empty tail at +7). */
  val CalibTauZ: Seq[Double] =
    Seq(-2.0, -1.0, -0.5, 0.0, 0.5, 1.0, 2.0, 4.0, 6.0, 7.0)
  val CalibTaus: Seq[Long] = CalibTauZ.map(z => (z * QfScale).toLong)

  /** q208: classifier OPERATING-POINT calibration — the sweep that makes
    * q201's margins load-bearing the way q155 makes the ANN indexes
    * load-bearing (and the way q116 calibrates the heuristic filter):
    * for each threshold bar τ, precision/recall/F1 of `margin ≥ τ`
    * against the heuristic labels, plus how much of the near-dup proxy
    * population (q45's component members, q116's pairing) the kept set
    * retains. A pipeline reads this table to CHOOSE the margin cutoff —
    * q201 alone emits scores but no threshold-choice artifact.
    *
    * Scale shape: the margins ride the memoized q201 scoring frame (the
    * classifier trains ONCE per session — [[qfMarginsCached]]); the dup
    * flag is one id-keyed join against the memoized q45 labels; the
    * sweep explodes each doc against the 10-bar literal array and
    * hash-aggregates to 10 rows with map-side partials (q116's shape —
    * corpus×10 rows into partials, 10 out). All counting is exact
    * integers; the only doubles are final int/int ratios rounded at 6dp
    * (q172's idiom), NULL-guarded on empty cells in both engines.
    */
  def q208CalibrationSweep(s: SparkSession, dir: String): DataFrame = {
    val m = qfMarginsCached(s, dir)
    val dups = Dedup.componentLabels(s, dir)
      .select(col("doc").as("doc_id"), lit(1L).as("dup_flag"))
    val flagged = m.join(dups, Seq("doc_id"), "left")
      .select(col("margin"), col("y"),
        coalesce(col("dup_flag"), lit(0L)).as("is_dup"))
    flagged
      .select(col("margin"), col("y"), col("is_dup"),
        explode(array(CalibTaus.map(lit): _*)).as("tau"))
      .groupBy(col("tau"))
      .agg(
        sum(col("y")).as("n_pos"),
        sum(col("is_dup")).as("n_dup"),
        sum(when(col("margin") >= col("tau"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("margin") >= col("tau"), col("y")).otherwise(0L)).as("tp"),
        sum(when(col("margin") >= col("tau"), col("is_dup")).otherwise(0L))
          .as("n_dup_kept"))
      .select(col("tau"), col("n_kept"), col("tp"),
        (col("n_kept") - col("tp")).as("fp"),
        (col("n_pos") - col("tp")).as("fn"),
        when(col("n_kept") > 0,
          round(col("tp").cast("double") / col("n_kept").cast("double"), 6))
          .as("prec"),
        when(col("n_pos") > 0,
          round(col("tp").cast("double") / col("n_pos").cast("double"), 6))
          .as("rec"),
        when(col("n_kept") + col("n_pos") > 0,
          round(lit(2.0) * col("tp").cast("double")
            / (col("n_kept") + col("n_pos")).cast("double"), 6)).as("f1"),
        col("n_dup_kept"),
        when(col("n_dup") > 0,
          round(col("n_dup_kept").cast("double") / col("n_dup").cast("double"), 6))
          .as("dup_leak"))
      .orderBy(col("tau"))
  }

  /** q208's oracle: q201's full training chain (shared CTE body — the
    * oracle RETRAINS the model exactly as q201's does), the recursive
    * component-labels block for the dup proxy (CTE-cache eligible,
    * shared with q45/q100/q116/q205), then the 10-bar integer sweep. */
  val q208Sql: String = {
    // element-wise BIGINT casts: unnest must stay at the top level of its
    // select item in DuckDB, and a bare int literal list would unnest as
    // INT32 — the output tau column must be int64 to match Spark's
    val taus = CalibTaus.map(t => s"CAST($t AS BIGINT)").mkString("[", ", ", "]")
    s"""WITH RECURSIVE ${Dedup.sqlComponentsCtes},
       |$qfTrainCtes,
       |dup AS (SELECT DISTINCT doc FROM labels),
       |fl AS (
       |  SELECT fm.margin, l.y,
       |   CASE WHEN d.doc IS NOT NULL THEN 1 ELSE 0 END AS is_dup
       |  FROM fm JOIN lab l USING (doc_id)
       |  LEFT JOIN dup d ON fm.doc_id = d.doc),
       |ex AS (
       |  SELECT margin, y, is_dup, unnest($taus) AS tau FROM fl),
       |agg AS (
       |  SELECT tau,
       |   CAST(sum(y) AS BIGINT) AS n_pos,
       |   CAST(sum(is_dup) AS BIGINT) AS n_dup,
       |   CAST(sum(CASE WHEN margin >= tau THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |   CAST(sum(CASE WHEN margin >= tau THEN y ELSE 0 END) AS BIGINT) AS tp,
       |   CAST(sum(CASE WHEN margin >= tau THEN is_dup ELSE 0 END) AS BIGINT) AS n_dup_kept
       |  FROM ex GROUP BY tau)
       |SELECT tau, n_kept, tp,
       | n_kept - tp AS fp,
       | n_pos - tp AS fn,
       | CASE WHEN n_kept > 0
       |   THEN ROUND(CAST(tp AS DOUBLE) / n_kept, 6) END AS prec,
       | CASE WHEN n_pos > 0
       |   THEN ROUND(CAST(tp AS DOUBLE) / n_pos, 6) END AS rec,
       | CASE WHEN n_kept + n_pos > 0
       |   THEN ROUND(2.0 * tp / (n_kept + n_pos), 6) END AS f1,
       | n_dup_kept,
       | CASE WHEN n_dup > 0
       |   THEN ROUND(CAST(n_dup_kept AS DOUBLE) / n_dup, 6) END AS dup_leak
       |FROM agg ORDER BY tau""".stripMargin
  }
}
