package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.TextFns._
import graft.functions.TopKPairs.topKPairs

/** Corpus-composition statistics: the planning ops a training-data
  * pipeline runs BEFORE committing to a mixture — temperature-rebalanced
  * language weights, duplicate-cluster demographics, robust per-language
  * outlier fences, weighted document sampling, and cross-source n-gram
  * similarity. These consume the same `documents` table as the dedup /
  * text-analysis family (SURVEY.md §2.4 LLM-pipeline row) but answer
  * corpus-level questions rather than per-document ones.
  *
  * Scale shapes: every query here is either map + low-cardinality hash
  * aggregate (q74, q76), a reuse of the memoized near-dup component labels
  * (q75), a `TakeOrderedAndProject` top-k (q79), or a vocabulary-keyed
  * aggregate with fan-out bounded by the source count (q80). Nothing plans
  * an unpartitioned window or an unbounded single-partition exchange.
  */
object CorpusStats {

  /** Sampling temperature for q74 (the multilingual-pretraining convention:
    * p_l ∝ f_l^α with α ∈ (0,1) flattens the language distribution — rare
    * languages are upsampled, dominant ones downsampled).
    */
  val MixAlpha: Double = 0.3

  /** q74: temperature-rebalanced language mixture — per language, the
    * natural corpus share, the α-tempered target share, and the resulting
    * upsample factor a sampler would apply. This is the planning step that
    * feeds rates into the q47/q49-style samplers.
    *
    * Plan: one hash aggregate keyed by language (map-side partials), then
    * a broadcast of the 1-row normalization totals back onto the
    * language-count frame — no window, no second scan of the corpus. All
    * derived fractions are rounded to 6dp: `pow` may differ between the
    * engines' libm in the last ulp, and 6dp leaves ~1e9 margin.
    */
  def q74TempMixture(s: SparkSession, dir: String): DataFrame = {
    val counts = documents(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
    val totals = counts.agg(
      sum(col("n_docs")).as("n_total"),
      sum(pow(col("n_docs").cast("double"), MixAlpha)).as("z"))
    val nat = col("n_docs").cast("double") / col("n_total").cast("double")
    val temp = pow(col("n_docs").cast("double"), MixAlpha) / col("z")
    counts.crossJoin(broadcast(totals))
      .select(
        col("lang"), col("n_docs"),
        round(nat, 6).as("nat_frac"),
        round(temp, 6).as("temp_frac"),
        round(temp / nat, 6).as("upsample"))
      .orderBy(col("lang"))
  }

  val q74Sql: String =
    s"""WITH c AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang),
       |t AS (
       |  SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
       |   sum(pow(CAST(n_docs AS DOUBLE), $MixAlpha)) AS z
       |  FROM c)
       |SELECT lang, n_docs,
       | ROUND(CAST(n_docs AS DOUBLE) / n_total, 6) AS nat_frac,
       | ROUND(pow(CAST(n_docs AS DOUBLE), $MixAlpha) / z, 6) AS temp_frac,
       | ROUND((pow(CAST(n_docs AS DOUBLE), $MixAlpha) / z)
       |       / (CAST(n_docs AS DOUBLE) / n_total), 6) AS upsample
       |FROM c CROSS JOIN t ORDER BY lang""".stripMargin

  /** q75: duplicate-cluster size distribution — how many near-dup clusters
    * of each size the corpus contains and how many documents they bind.
    * This is the report a dedup pipeline reads to pick its keep-one policy
    * (a corpus dominated by size-2 clusters dedups very differently from
    * one with a few giant boilerplate clusters).
    *
    * Composes the MEMOIZED q45 component labels (cluster membership is
    * computed once per session and shared with q45/q58), so the marginal
    * cost is two tiny aggregates over the near-dup node set — first keyed
    * by component, then by cluster size.
    */
  def q75ClusterSizes(s: SparkSession, dir: String): DataFrame =
    Dedup.componentLabels(s, dir)
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))
      .orderBy(col("cluster_size"))

  val q75Sql: String =
    s"""WITH RECURSIVE ${Dedup.sqlComponentsCtes},
       |comp_sz AS (
       |  SELECT comp, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM labels GROUP BY comp)
       |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       | cluster_size * CAST(count(*) AS BIGINT) AS n_docs
       |FROM comp_sz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin

  /** Tukey fence multiplier for q76. */
  val FenceK: Double = 1.5

  /** q76: robust per-language length outliers — exact interpolated
    * quartiles of `n_chars` per language, Tukey fences at
    * quartile ± [[FenceK]]·IQR, and the count of documents outside them.
    * This is the length-filter calibration step a curation pipeline runs
    * per language (a fixed global cutoff mislabels languages with
    * different length regimes).
    *
    * Two-phase plan: the per-language quartiles aggregate to a
    * language-cardinality frame (eagerly checkpointed — it is consumed by
    * both the fence join and the final projection), which broadcasts back
    * onto a second scan for the fence classification. At 100 TB the same
    * shape holds with `approx_percentile` replacing the exact sort-based
    * quartiles (cf. q55's sketch path); fences are presentation-rounded
    * but CLASSIFICATION uses the raw quartile arithmetic, identical in
    * both engines because `n_chars` is integral and the fences are exact
    * IEEE expressions of two interpolated quartiles.
    */
  def q76OutlierFences(s: SparkSession, dir: String): DataFrame = {
    val base = documents(s, dir).select(col("lang"), col("n_chars"))
    val lo = col("p25r") - lit(FenceK) * (col("p75r") - col("p25r"))
    val hi = col("p75r") + lit(FenceK) * (col("p75r") - col("p25r"))
    val bounds = base.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("percentile(n_chars, 0.25D)").as("p25r"),
        expr("percentile(n_chars, 0.75D)").as("p75r"))
      .localCheckpoint(true) // tiny (|langs| rows); computed once, read twice
    val outliers = base
      .join(broadcast(bounds.select(col("lang"), lo.as("lo"), hi.as("hi"))), Seq("lang"))
      .groupBy(col("lang"))
      .agg(sum(when(col("n_chars") < col("lo") || col("n_chars") > col("hi"), 1L)
        .otherwise(0L)).as("n_outliers"))
    bounds.join(outliers, Seq("lang"))
      .select(
        col("lang"), col("n_docs"),
        round(col("p25r"), 6).as("p25"),
        round(col("p75r"), 6).as("p75"),
        round(col("p75r") - col("p25r"), 6).as("iqr"),
        round(lo, 6).as("lo_fence"),
        round(hi, 6).as("hi_fence"),
        col("n_outliers"))
      .orderBy(col("lang"))
  }

  val q76Sql: String =
    s"""WITH b AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |   quantile_cont(n_chars, 0.25) AS p25r,
       |   quantile_cont(n_chars, 0.75) AS p75r
       |  FROM documents GROUP BY lang),
       |f AS (
       |  SELECT d.lang,
       |   CAST(sum(CASE WHEN d.n_chars < p25r - $FenceK * (p75r - p25r)
       |                   OR d.n_chars > p75r + $FenceK * (p75r - p25r)
       |            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
       |  FROM documents d JOIN b ON d.lang = b.lang GROUP BY d.lang)
       |SELECT b.lang, n_docs,
       | ROUND(p25r, 6) AS p25, ROUND(p75r, 6) AS p75,
       | ROUND(p75r - p25r, 6) AS iqr,
       | ROUND(p25r - $FenceK * (p75r - p25r), 6) AS lo_fence,
       | ROUND(p75r + $FenceK * (p75r - p25r), 6) AS hi_fence,
       | n_outliers
       |FROM b JOIN f ON b.lang = f.lang ORDER BY b.lang""".stripMargin

  /** Sample size for q79. */
  val WsK: Int = 100

  /** q79: weighted sampling without replacement (Efraimidis–Spirakis
    * exponential race) — each document draws a deterministic uniform
    * u = uhash(doc_id) and competes with key −ln(u)/w, w = `n_chars`;
    * the [[WsK]] smallest keys win. This yields an exact weighted
    * k-sample in ONE distributed pass: keys are independent per row
    * (map-only) and the selection is a bounded top-k
    * (`TakeOrderedAndProject` — k·partitions rows ever cross the wire,
    * never a global sort). The length-biased variant of q65's fixed-k
    * uniform sample; reproducible under retries for the same reason q47
    * is.
    *
    * Key arithmetic note: u is an identical IEEE double in both engines
    * (md5-derived integer ÷ 2^60); `ln` may differ in the last ulp, which
    * cannot reorder the race except on ~1e-16-relative key ties —
    * structurally absent from a continuous hash draw. The reported key is
    * rounded for presentation.
    */
  def q79WeightedSample(s: SparkSession, dir: String): DataFrame = {
    val u = TrainingData.uhash(col("doc_id"), "q79")
    documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("k", -log(u) / col("n_chars").cast("double"))
      .orderBy(col("k"), col("doc_id"))
      .limit(WsK)
      .select(col("doc_id"), col("lang"), col("n_chars"), round(col("k") * 1e6, 6).as("key_ppm"))
  }

  val q79Sql: String =
    s"""SELECT doc_id, lang, n_chars, ROUND(k * 1e6, 6) AS key_ppm FROM (
       |  SELECT doc_id, lang, n_chars,
       |   -ln(${TrainingData.uhashSql("doc_id", "q79")}) / n_chars AS k
       |  FROM documents)
       |ORDER BY k, doc_id LIMIT $WsK""".stripMargin

  /** Shingle width for the q80 source-similarity matrix. */
  val SrcN: Int = 3

  /** Memoized distinct (source, g) [[SrcN]]-gram vocabulary surface, per
    * (session, sfDir): the source-composition queries (q80's pairwise
    * Jaccard and q87's novelty attribution) aggregate the same frame, so
    * the corpus is shingled once per session, not once per consumer —
    * [[graft.queries.Dedup]]'s memo sharing and snapshot contract apply.
    * Eagerly checkpointed: q80 alone reads it twice (per-source sizes +
    * per-gram pair expansion).
    */
  private[graft] val sourceGrams = new Dedup.Memo[DataFrame]("source_grams")((s, dir) =>
    resplit(documents(s, dir).select(col("source"), col("text")))
      .select(col("source"), explode(shingles(words(col("text")), SrcN)).as("g"))
      .distinct()
      .localCheckpoint(true))

  /** q80: cross-source n-gram similarity matrix — Jaccard overlap of the
    * distinct word-[[SrcN]]-gram vocabularies of every source pair. The
    * corpus-composition complement of q22 (which scores document pairs):
    * sources with high vocabulary overlap are near-redundant feeds, and a
    * mixture that weights both is double-counting content.
    *
    * Plan: one distinct aggregate to the (source, gram) surface, then one
    * aggregate keyed by gram that emits each gram's source-pair
    * combinations from a sorted collect_set — per-gram fan-out is bounded
    * by C(|sources|, 2), NOT by document frequency, so a universal gram
    * costs the same as a rare one (the q22 skew lesson applied at source
    * granularity). Pair counts then aggregate on a C(|sources|, 2)-row
    * keyspace and join the broadcast per-source vocabulary sizes.
    */
  def q80SourceJaccard(s: SparkSession, dir: String): DataFrame = {
    val g = sourceGrams(s, dir)
    val sizes = g.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val pairs = g.groupBy(col("g"))
      .agg(array_sort(collect_set(col("source"))).as("ss"))
      .select(explode(flatten(transform(col("ss"), (x, i) =>
        transform(slice(col("ss"), i + lit(2), size(col("ss"))), y =>
          struct(x.as("src_a"), y.as("src_b")))))).as("p"))
      .select(col("p.src_a"), col("p.src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("inter"))
    val ja = col("inter").cast("double") /
      (col("n_a") + col("n_b") - col("inter")).cast("double")
    pairs
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("n_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("inter"),
        round(ja, 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col("src_a"), col("src_b"))
  }

  val q80Sql: String =
    s"""WITH w AS (
       |  SELECT doc_id, source, ${wordsSql("text")} AS w FROM documents),
       |${shingleSetSql("g", "source", SrcN, "w")},
       |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY source),
       |p AS (
       |  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS inter
       |  FROM g a JOIN g b ON a.s = b.s AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, inter,
       | ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
       |FROM p JOIN sz sa ON src_a = sa.source JOIN sz sb ON src_b = sb.source
       |ORDER BY jaccard DESC, src_a, src_b""".stripMargin

  /** q84: unigram language-model surprisal per document — CCNet-style
    * perplexity filtering with the LM reduced to the corpus's own unigram
    * distribution. Per document: token count, distinct-type count, and
    * the mean per-token negative log-probability in nats (high = the
    * document's vocabulary is unusual for this corpus; the filter a real
    * pipeline applies is a fence on exactly this column, cf. q76).
    *
    * Scale shape: the raw token stream never shuffles — `groupBy(doc_id,
    * w)` collapses it to (document, type) counts with map-side partials
    * (a document's tokens are colocated in its scan partition, so nearly
    * all duplicates combine before the exchange). The model is one
    * vocabulary-sized aggregate REUSING that same (doc, type) exchange,
    * and rides back as a broadcast; at web-corpus vocabularies too big to
    * broadcast this becomes a shuffle join on `w`, where the model side
    * is one row per word and AQE's skew split absorbs the stopword keys.
    * Surprisal sums are rounded to 4dp — ln may differ in the engines'
    * last ulp and the two sides sum in different orders; both effects are
    * ~1e-12 and 4dp leaves 1e8 margin.
    */
  def q84UnigramSurprisal(s: SparkSession, dir: String): DataFrame = {
    val docTok = resplit(documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("k"))
    val uni = docTok.groupBy(col("w")).agg(sum(col("k")).as("c"))
    val total = uni.agg(sum(col("c")).as("n_corpus"))
    val model = uni.crossJoin(broadcast(total))
      .select(col("w"),
        (log(col("c").cast("double")) - log(col("n_corpus").cast("double"))).as("logp"))
    docTok.join(broadcast(model), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("k")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        round(-sum(col("k").cast("double") * col("logp"))
          / sum(col("k")).cast("double"), 4).as("nll_per_token"))
      .orderBy(col("doc_id"))
  }

  val q84Sql: String =
    s"""WITH t AS (
      |  SELECT doc_id, unnest(${wordsSql("text")}) AS w
      |  FROM documents),
      |dt AS (
      |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS k FROM t GROUP BY doc_id, w),
      |u AS (SELECT w, CAST(sum(k) AS BIGINT) AS c FROM dt GROUP BY w),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_corpus FROM u),
      |m AS (SELECT w, ln(CAST(c AS DOUBLE)) - ln(CAST(n_corpus AS DOUBLE)) AS logp
      |      FROM u, tot)
      |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
      | CAST(count(*) AS BIGINT) AS n_types,
      | ROUND(-sum(k * logp) / sum(k), 4) AS nll_per_token
      |FROM dt JOIN m USING (w)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Minimum bigram frequency before a pair is PMI-eligible (the standard
    * guard: PMI of rare pairs is dominated by noise and always ranks top).
    */
  val PmiMinCount: Int = 5

  /** Collocations reported by q86. */
  val PmiTopK: Int = 50

  /** q86: PMI collocations — the top word pairs whose adjacency is most
    * surprising under independence: pmi = ln(p(ab)) − ln(p(a)) − ln(p(b)),
    * with bigram probability over the corpus bigram total and unigram
    * marginals over the token total. This is the phrase-mining signal
    * (tokenizer vocab candidates, stopword-phrase detection) that
    * complements q52's raw heavy hitters and q84's per-document surprisal.
    *
    * Scale shape: two vocabulary-sized hash aggregates (unigrams, adjacent
    * bigrams — both collapse map-side), the min-count filter BEFORE any
    * join so only frequent pairs ride further, marginals attached by
    * broadcast (at web-scale vocabularies: shuffle join on the word, one
    * model row per key), and the final ranking a bounded
    * `TakeOrderedAndProject` — the full scored pair set never sorts
    * globally. PMI is rounded to 4dp (libm ulp margin); (w1, w2) breaks
    * exact ties, so top-k is total-ordered in both engines.
    */
  def q86PmiCollocations(s: SparkSession, dir: String): DataFrame = {
    val ws = resplit(documents(s, dir).select(col("doc_id"), col("text")))
      .select(words(col("text")).as("ww"))
    val uni = ws.select(explode(col("ww")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val nTok = uni.agg(sum(col("c1")).as("n_tok"))
    val biAll = ws.filter(size(col("ww")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("ww")) - 1),
        i => struct(element_at(col("ww"), i).as("w1"),
          element_at(col("ww"), i + 1).as("w2")))).as("b"))
      .groupBy(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .agg(count(lit(1)).as("c2"))
    val nBi = biAll.agg(sum(col("c2")).as("n_bi"))
    val pmi = log(col("c2").cast("double") / col("n_bi").cast("double")) -
      log(col("c1a").cast("double") / col("n_tok").cast("double")) -
      log(col("c1b").cast("double") / col("n_tok").cast("double"))
    biAll.filter(col("c2") >= PmiMinCount)
      .join(broadcast(uni.select(col("w").as("w1"), col("c1").as("c1a"))), Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("c1").as("c1b"))), Seq("w2"))
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBi))
      .select(col("w1"), col("w2"), col("c2"), col("c1a"), col("c1b"),
        round(pmi, 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(PmiTopK)
  }

  val q86Sql: String =
    s"""WITH w AS (
       |  SELECT ${wordsSql("text")} AS ww FROM documents),
       |u AS (
       |  SELECT w, CAST(count(*) AS BIGINT) AS c1
       |  FROM (SELECT unnest(ww) AS w FROM w) GROUP BY w),
       |nt AS (SELECT CAST(sum(c1) AS BIGINT) AS n_tok FROM u),
       |ba AS (
       |  SELECT bg.w1 AS w1, bg.w2 AS w2, CAST(count(*) AS BIGINT) AS c2
       |  FROM (
       |    SELECT unnest(CASE WHEN len(ww) >= 2
       |      THEN list_transform(range(1, len(ww)),
       |             i -> struct_pack(w1 := ww[i], w2 := ww[i+1]))
       |      ELSE [] END) AS bg
       |    FROM w)
       |  GROUP BY 1, 2),
       |nb AS (SELECT CAST(sum(c2) AS BIGINT) AS n_bi FROM ba)
       |SELECT w1, w2, c2, ua.c1 AS c1a, ub.c1 AS c1b,
       | ROUND(ln(CAST(c2 AS DOUBLE) / CAST(n_bi AS DOUBLE))
       |   - ln(CAST(ua.c1 AS DOUBLE) / CAST(n_tok AS DOUBLE))
       |   - ln(CAST(ub.c1 AS DOUBLE) / CAST(n_tok AS DOUBLE)), 4) AS pmi
       |FROM ba JOIN u ua ON ba.w1 = ua.w JOIN u ub ON ba.w2 = ub.w
       |CROSS JOIN nt CROSS JOIN nb
       |WHERE c2 >= $PmiMinCount
       |ORDER BY pmi DESC, w1, w2 LIMIT $PmiTopK""".stripMargin

  /** q87: vocabulary novelty attribution by source — when sources are
    * ingested in (lexicographic) order, how much of each source's
    * [[SrcN]]-gram vocabulary is NEW versus already contributed by an
    * earlier source. This is the incremental-value report behind mixture
    * decisions ("does adding this crawl actually add content?"),
    * complementing q80's pairwise overlap with an order-sensitive
    * attribution that sums to the union vocabulary.
    *
    * Plan: the memoized [[sourceGrams]] surface (shared with q80), then a
    * gram-keyed `min(source)` aggregate for first ownership (a hash
    * aggregate with map-side partials), and two source-sized summaries
    * joined at the end — the corpus-sized gram surface never rides more
    * than those exchanges.
    */
  def q87SourceNovelty(s: SparkSession, dir: String): DataFrame = {
    val g = sourceGrams(s, dir)
    val vocab = g.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
    val novel = g.groupBy(col("g")).agg(min(col("source")).as("first_source"))
      .groupBy(col("first_source")).agg(count(lit(1)).as("n_novel"))
    vocab.join(novel, col("source") === col("first_source"), "left")
      .select(col("source"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        round(coalesce(col("n_novel"), lit(0L)).cast("double")
          / col("n_grams").cast("double"), 6).as("novelty_frac"))
      .orderBy(col("source"))
  }

  val q87Sql: String =
    s"""WITH w AS (
       |  SELECT source, ${wordsSql("text")} AS w FROM documents),
       |${shingleSetSql("g", "source", SrcN, "w")},
       |v AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY source),
       |f AS (SELECT s, min(source) AS first_source FROM g GROUP BY s),
       |nv AS (SELECT first_source, CAST(count(*) AS BIGINT) AS n_novel
       |       FROM f GROUP BY first_source)
       |SELECT source, n_grams, COALESCE(n_novel, CAST(0 AS BIGINT)) AS n_novel,
       | ROUND(CAST(COALESCE(n_novel, 0) AS DOUBLE) / n_grams, 6) AS novelty_frac
       |FROM v LEFT JOIN nv ON source = first_source
       |ORDER BY source""".stripMargin

  /** q91: source token concentration (Lorenz curve) — each source's token
    * share and the cumulative share when sources are ranked smallest
    * first: the inequality profile behind mixture decisions (a corpus
    * where two crawls own 90% of tokens needs q74's tempering far more
    * than a flat one; the Gini/HHI summaries derive directly from these
    * rows).
    *
    * Scale shape: the corpus collapses to one token count per source
    * map-side. Rank and cumulative sum are then computed WITHOUT a global
    * window (the suite-wide plan guard forbids unpartitioned WindowExec,
    * and rightly — even a tiny frame shouldn't normalize the pattern):
    * a triangular self-join over the sources-sized frame gives rank =
    * |{b : b ≤ a}| and cum = Σ_{b ≤ a} n_b in one aggregate, k² pairs for
    * k sources — hundreds at most in a real lake, trivially bounded.
    */
  def q91SourceConcentration(s: SparkSession, dir: String): DataFrame = {
    val counts = resplit(documents(s, dir).select(col("source"), col("text")))
      .groupBy(col("source"))
      .agg(sum(size(words(col("text"))).cast("long")).as("n_tok"))
    val tot = counts.agg(sum(col("n_tok")).as("n_total"))
    val le = col("b.n_tok") < col("a.n_tok") ||
      (col("b.n_tok") === col("a.n_tok") && col("b.source") <= col("a.source"))
    counts.as("a").join(counts.as("b"), le)
      .groupBy(col("a.source").as("source"), col("a.n_tok").as("n_tok"))
      .agg(count(lit(1)).as("rnk"), sum(col("b.n_tok")).as("cum_tok"))
      .crossJoin(broadcast(tot))
      .select(col("rnk"), col("source"), col("n_tok"),
        round(col("n_tok").cast("double") / col("n_total").cast("double"), 6).as("share"),
        round(col("cum_tok").cast("double") / col("n_total").cast("double"), 6).as("cum_share"))
      .orderBy(col("rnk"))
  }

  val q91Sql: String =
    s"""WITH c AS (
      |  SELECT source,
      |   CAST(sum(len(${wordsSql("text")})) AS BIGINT) AS n_tok
      |  FROM documents GROUP BY source),
      |t AS (SELECT CAST(sum(n_tok) AS BIGINT) AS n_total FROM c),
      |p AS (
      |  SELECT a.source AS source, a.n_tok AS n_tok,
      |   CAST(count(*) AS BIGINT) AS rnk, CAST(sum(b.n_tok) AS BIGINT) AS cum_tok
      |  FROM c a JOIN c b
      |    ON b.n_tok < a.n_tok OR (b.n_tok = a.n_tok AND b.source <= a.source)
      |  GROUP BY 1, 2)
      |SELECT rnk, source, n_tok,
      | ROUND(CAST(n_tok AS DOUBLE) / n_total, 6) AS share,
      | ROUND(CAST(cum_tok AS DOUBLE) / n_total, 6) AS cum_share
      |FROM p CROSS JOIN t ORDER BY rnk""".stripMargin

  // ---------------------------------------------------------------- q107

  /** Number of unrolled BPE merge rounds (q107). Small and FIXED so the
    * oracle can unroll the identical rounds as CTEs.
    */
  val BpeRounds: Int = 3

  /** q107: BPE-style merge-rule induction — the counting core of
    * byte-pair-encoding tokenizer TRAINING, run at the word level (symbols
    * start as whitespace tokens; each round merges the corpus-wide most
    * frequent adjacent symbol pair into one symbol, `left_sym_right_sym`).
    * Output is the learned merge table: one rule per round with its
    * support count — the artifact a tokenizer trainer persists.
    *
    * Distributed shape, per round:
    *   1. adjacent-pair counts — q86's bigram explode → hash aggregate
    *      (pair-vocabulary keyspace, map-side partials);
    *   2. the argmax rule — `TakeOrderedAndProject` top-1 with a total
    *      (count DESC, left, right) tie order so both engines pick the
    *      same rule deterministically;
    *   3. greedy leftmost non-overlapping merge applied corpus-wide as a
    *      map-only string rewrite against the BROADCAST 1-row rule.
    * The rewritten corpus is eagerly localCheckpoint'd each round (the
    * q45/q97/q101 iterative pattern: corpus-sized state, constant lineage
    * depth), while the rule frames keep their top-k roots so every
    * broadcast build side stays bounded by construction (PlanSpec's
    * suite-wide nested-loop guard).
    *
    * The merge itself uses plain leftmost `replace` in BOTH engines, on a
    * space-doubled rendering (` l  r ` → ` l␁r `): doubling gives every
    * token its own delimiters, so consecutive matches don't contend for a
    * shared space and the scan order implements exactly BPE's greedy
    * left-to-right non-overlapping semantics ("a a a a" → "a␁a a␁a",
    * "a a a" → "a␁a a").
    *
    * Merged symbols join with the non-printable sentinel chr(1) (shown
    * as ␁ above): unlike '_', it cannot appear in ordinary text, so a
    * literal corpus token like "a_a" is never confused with the merge of
    * ("a","a"). Precondition (documented, not enforced): raw text is
    * assumed free of embedded 0x01 bytes — the whitespace tokenizer
    * passes control characters through, so a corpus with unstripped
    * control-char noise must normalize it upstream (the standard
    * pre-tokenization cleanup). The rule is applied via a LEFT
    * join (both engines): a round that finds zero adjacent pairs (corpus
    * fully merged) passes the corpus through unchanged and simply stops
    * emitting rules, instead of silently emptying it.
    */
  /** The [[BpeRounds]]-round training fold: per round, count adjacent
    * pairs, pick the top rule, rewrite the corpus, checkpoint. Returns
    * the in-order rule frames and the final corpus.
    */
  private def bpeRounds(s: SparkSession, dir: String): (Seq[DataFrame], DataFrame) = {
    val docs0 = resplit(documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), array_join(words(col("text")), " ").as("txt"))
      .localCheckpoint(true)
    def pairCounts(docs: DataFrame): DataFrame =
      docs.select(split(col("txt"), " ").as("ww"))
        .filter(size(col("ww")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("ww")) - 1),
          i => struct(element_at(col("ww"), i).as("l"),
            element_at(col("ww"), i + 1).as("r")))).as("b"))
        .groupBy(col("b.l").as("left_sym"), col("b.r").as("right_sym"))
        .agg(count(lit(1)).as("pair_count"))
    def topRule(docs: DataFrame): DataFrame =
      pairCounts(docs)
        .orderBy(col("pair_count").desc, col("left_sym"), col("right_sym"))
        .limit(1)
    def applyMerge(docs: DataFrame, rule: DataFrame): DataFrame =
      docs.join(broadcast(rule.select(col("left_sym"), col("right_sym"))),
          lit(true), "left")
        .select(col("doc_id"), when(col("left_sym").isNull, col("txt"))
          .otherwise(trim(regexp_replace(
            expr("replace(concat(' ', replace(txt, ' ', '  '), ' '), " +
              "concat(' ', left_sym, '  ', right_sym, ' '), " +
              "concat(' ', left_sym, chr(1), right_sym, ' '))"),
            " +", " "))).as("txt"))
    val (rulesRev, fin) = (1 to BpeRounds)
      .foldLeft((List.empty[DataFrame], docs0)) { case ((acc, docs), r) =>
        val rule = topRule(docs)
        val next = applyMerge(docs, rule).localCheckpoint(true)
        (rule.withColumn("round", lit(r.toLong)) :: acc, next)
      }
    (rulesRev.reverse, fin)
  }

  /** The fold's two outputs — (rules with their round, encoded corpus) —
    * memoized together per (session, dir): q107 reads the RULES and q111
    * the final ENCODED corpus, and one fold run (the expensive part)
    * serves both.
    */
  private[graft] val bpeFold = new Dedup.Memo[(DataFrame, DataFrame)]("bpe_fold")((s, dir) => {
    val (rules, fin) = bpeRounds(s, dir)
    (rules.reduce(_ unionByName _).localCheckpoint(true), fin)
  })

  /** Fresh (un-memoized) rules frame — the PlanSpec pin target, exactly
    * like q22Fresh vs the memoized q22: the pin must see the real
    * aggregate tree, not a checkpointed-RDD scan. */
  private[graft] def bpeRulesFresh(s: SparkSession, dir: String): DataFrame =
    bpeRounds(s, dir)._1.reduce(_ unionByName _)

  def q107BpeMerges(s: SparkSession, dir: String): DataFrame =
    bpeFold(s, dir)._1
      .select(col("round"), col("left_sym"), col("right_sym"),
        concat(col("left_sym"), lit("\u0001"), col("right_sym")).as("merged"),
        col("pair_count"))
      .orderBy(col("round"))

  /** Oracle CTE chain shared by q107 and q111: w0 (whitespace-normalized
    * corpus), then per round r: cr (pair counts), tr (top rule), wr
    * (rewritten corpus). `bpeChainCtes` ends at w3 — the fully-encoded
    * corpus — which q107 simply doesn't reference (an unreferenced CTE is
    * never executed).
    */
  private def bpeChainCtes: String = {
    def pc(src: String): String =
      s"""SELECT bg.l AS left_sym, bg.r AS right_sym, CAST(count(*) AS BIGINT) AS pair_count
         |  FROM (
         |    SELECT unnest(CASE WHEN len(ww) >= 2
         |      THEN list_transform(range(1, len(ww)),
         |             i -> struct_pack(l := ww[i], r := ww[i+1]))
         |      ELSE [] END) AS bg
         |    FROM (SELECT string_split(txt, ' ') AS ww FROM $src))
         |  GROUP BY 1, 2""".stripMargin
    def merge(src: String, rule: String): String =
      s"""SELECT doc_id, CASE WHEN $rule.left_sym IS NULL THEN txt
         |    ELSE trim(regexp_replace(
         |    replace(' ' || replace(txt, ' ', '  ') || ' ',
         |            ' ' || $rule.left_sym || '  ' || $rule.right_sym || ' ',
         |            ' ' || $rule.left_sym || chr(1) || $rule.right_sym || ' '),
         |    ' +', ' ', 'g')) END AS txt
         |  FROM $src LEFT JOIN $rule ON TRUE""".stripMargin
    s"""w0 AS (
       |  SELECT doc_id,
       |    array_to_string(${wordsSql("text")}, ' ') AS txt
       |  FROM documents),
       |c1 AS (${pc("w0")}),
       |t1 AS (SELECT * FROM c1 ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1),
       |w1 AS (${merge("w0", "t1")}),
       |c2 AS (${pc("w1")}),
       |t2 AS (SELECT * FROM c2 ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1),
       |w2 AS (${merge("w1", "t2")}),
       |c3 AS (${pc("w2")}),
       |t3 AS (SELECT * FROM c3 ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1),
       |w3 AS (${merge("w2", "t3")})""".stripMargin
  }

  val q107Sql: String =
    s"""WITH $bpeChainCtes
       |SELECT CAST(1 AS BIGINT) AS round, left_sym, right_sym,
       |  left_sym || chr(1) || right_sym AS merged, pair_count FROM t1
       |UNION ALL SELECT 2, left_sym, right_sym,
       |  left_sym || chr(1) || right_sym, pair_count FROM t2
       |UNION ALL SELECT 3, left_sym, right_sym,
       |  left_sym || chr(1) || right_sym, pair_count FROM t3
       |ORDER BY round""".stripMargin

  /** q111: BPE ENCODE — apply the [[BpeRounds]] learned merge rules to
    * the whole corpus (the inference half of the q107/q111 tokenizer
    * pair) and report per-document token counts before and after, the
    * number of merges that landed, and the compression ratio. This is
    * the accounting a tokenizer-training loop actually reads: which
    * documents compress, and by how much, under the current rule set.
    *
    * Scale shape: identical to q107's fold — the encode is [[BpeRounds]]
    * map-only corpus rewrites against broadcast 1-row rules (the corpus
    * never shuffles), plus one id-keyed join of two document-sized
    * frames to attach the raw token counts. At 100 TB the rules are
    * still a driver-sized broadcast and every rewrite stays in the scan
    * stage.
    */
  def q111BpeEncode(s: SparkSession, dir: String): DataFrame = {
    val (_, fin) = bpeFold(s, dir)
    val raw = documents(s, dir)
      .select(col("doc_id"),
        size(words(col("text"))).cast("long").as("n_tok_raw"))
    fin.select(col("doc_id"),
        size(split(col("txt"), " ")).cast("long").as("n_tok_bpe"))
      .join(raw, Seq("doc_id"))
      .select(col("doc_id"), col("n_tok_raw"), col("n_tok_bpe"),
        (col("n_tok_raw") - col("n_tok_bpe")).as("n_merged"),
        round(col("n_tok_bpe").cast("double") / col("n_tok_raw").cast("double"), 6)
          .as("compression"))
      .orderBy(col("doc_id"))
  }

  val q111Sql: String =
    s"""WITH $bpeChainCtes
       |SELECT w0.doc_id AS doc_id,
       | CAST(len(string_split(w0.txt, ' ')) AS BIGINT) AS n_tok_raw,
       | CAST(len(string_split(w3.txt, ' ')) AS BIGINT) AS n_tok_bpe,
       | CAST(len(string_split(w0.txt, ' ')) - len(string_split(w3.txt, ' ')) AS BIGINT) AS n_merged,
       | ROUND(CAST(len(string_split(w3.txt, ' ')) AS DOUBLE)
       |       / len(string_split(w0.txt, ' ')), 6) AS compression
       |FROM w0 JOIN w3 ON w0.doc_id = w3.doc_id
       |ORDER BY w0.doc_id""".stripMargin

  /** Add-k smoothing constant for q115 (k = 1/2, Jeffreys; a power of two,
    * so the smoothed counts are exact in IEEE doubles). */
  val BigramAddK: Double = 0.5

  /** Memoized per-document bigram counts (doc_id, l, r, k) — the shared
    * substrate of BOTH bigram language models (q115 add-k, q191
    * Kneser–Ney), built once per (session, dir) (r19-opt). Without the
    * materialization each query's plan held ~5 replicas of the
    * tokenize+explode+aggregate subtree (10 corpus scans each — Spark
    * does not CSE across consumers), and the two queries built it twice
    * over. Counts are exact integers; sharing cannot change results.
    */
  private val docBigrams = new Dedup.Memo[DataFrame]("doc_bigrams")((s, dir) =>
    resplit(documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), words(col("text")).as("ww"))
      .filter(size(col("ww")) >= 2)
      .select(col("doc_id"), explode(transform(sequence(lit(1), size(col("ww")) - 1),
        i => struct(element_at(col("ww"), i).as("l"),
          element_at(col("ww"), i + 1).as("r")))).as("b"))
      .groupBy(col("doc_id"), col("b.l").as("l"), col("b.r").as("r"))
      .agg(count(lit(1)).as("k"))
      .localCheckpoint(true))

  /** Memoized corpus bigram table (l, r, c_lr) over [[docBigrams]] —
    * vocabulary-sized, read by 4–5 model aggregates in each consumer. */
  private val bigramTable = new Dedup.Memo[DataFrame]("bigram_table")((s, dir) =>
    docBigrams(s, dir).groupBy(col("l"), col("r")).agg(sum(col("k")).as("c_lr"))
      .localCheckpoint(true))

  /** q115: bigram-LM document perplexity — score every document by its
    * average negative log-likelihood under an add-k-smoothed bigram
    * language model trained on the corpus itself: p(r|l) = (c(l,r)+k) /
    * (c(l·)+k·V). The bigram step past q84's unigram surprisal is what a
    * CCNet-style perplexity filter actually runs: word-order breakage
    * (boilerplate splices, shuffled scrapes) leaves unigram stats intact
    * but craters bigram likelihood.
    *
    * Scale shape (q84/q86's vocabulary discipline): the token stream
    * collapses to (doc, l, r) counts map-side; the model lives on the
    * bigram-vocabulary keyspace (≪ corpus), its prefix marginals come
    * from one more vocab-sized aggregate, the vocabulary size V is a
    * broadcast 1-row frame, and the doc-side rejoin keys on (l, r) where
    * AQE's skew split absorbs stopword-pair heads. Docs with fewer than
    * 2 tokens have no bigram distribution and are excluded (documented
    * contract, mirrored by the oracle).
    *
    * Determinism: smoothed counts are integer+0.5 exact doubles; ln may
    * differ in the last ulp and the per-doc sum order differs between
    * engines — both ~1e-12, absorbed by the 4dp round (q84's rule).
    */
  def q115BigramPerplexity(s: SparkSession, dir: String): DataFrame = {
    val docBi = docBigrams(s, dir)
    val big = bigramTable(s, dir)
    val pre = big.groupBy(col("l")).agg(sum(col("c_lr")).as("c_l"))
    val vocabF = big.select(col("l").as("w")).union(big.select(col("r").as("w")))
      .distinct().agg(count(lit(1)).as("v"))
    val model = big.join(pre, Seq("l")).crossJoin(broadcast(vocabF))
      .select(col("l"), col("r"),
        (log(col("c_lr").cast("double") + BigramAddK)
          - log(col("c_l").cast("double") + lit(BigramAddK) * col("v").cast("double")))
          .as("logp"))
    docBi.join(model, Seq("l", "r"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("k")).as("n_bigrams"),
        round(-sum(col("k").cast("double") * col("logp"))
          / sum(col("k")).cast("double"), 4).as("nll_per_token"))
      .orderBy(col("doc_id"))
  }

  val q115Sql: String =
    s"""WITH w AS (
       |  SELECT doc_id, ${wordsSql("text")} AS ww FROM documents),
       |db AS (
       |  SELECT doc_id, b.l AS l, b.r AS r, CAST(count(*) AS BIGINT) AS k FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(ww)),
       |      i -> struct_pack(l := ww[i], r := ww[i+1]))) AS b
       |    FROM w WHERE len(ww) >= 2)
       |  GROUP BY doc_id, b.l, b.r),
       |big AS (SELECT l, r, CAST(sum(k) AS BIGINT) AS c_lr FROM db GROUP BY l, r),
       |pre AS (SELECT l, CAST(sum(c_lr) AS BIGINT) AS c_l FROM big GROUP BY l),
       |voc AS (
       |  SELECT CAST(count(*) AS BIGINT) AS v FROM (
       |    SELECT l AS tok FROM big UNION SELECT r FROM big)),
       |m AS (
       |  SELECT big.l, big.r,
       |   ln(c_lr + $BigramAddK) - ln(c_l + $BigramAddK * v) AS logp
       |  FROM big JOIN pre ON big.l = pre.l CROSS JOIN voc)
       |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
       | ROUND(-sum(k * logp) / sum(k), 4) AS nll_per_token
       |FROM db JOIN m ON db.l = m.l AND db.r = m.r
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q124

  /** Candidate next-rule rows q124 reports (the top of the merged pair
    * table — row 1 is round-[[BpeRounds]]+1's rule). */
  val BpeCandidates: Int = 5

  /** q124: incremental BPE CONTINUATION — maintain the tokenizer-training
    * pair-count table under a corpus increment instead of recounting the
    * world. After [[BpeRounds]] induced rules (q107), training continues
    * from the corpus-wide adjacent-pair counts of the ENCODED corpus;
    * when an increment arrives (`doc_id % 10 = 3`), production encodes
    * only the new documents with the frozen rules (a map-only rewrite,
    * q111's shape) and folds their pair counts into the STORED table —
    * the q120 merge-of-partials pattern applied to the q107 training
    * surface. Output is the merged table's top [[BpeCandidates]] rows
    * with base/delta provenance; row 1 IS the round-4 merge rule the
    * continued training run would pick.
    *
    * The oracle recounts the WHOLE encoded corpus in one pass, so the
    * hash match proves merge(count(base), count(delta)) ≡
    * count(base ∪ delta) on the exact keyspace BPE training argmaxes
    * over — the algebra that lets a 100 TB tokenizer-training pipeline
    * keep its pair table warm across daily increments.
    *
    * Scale shape: both partials are bigram explodes collapsing map-side
    * to the pair-vocabulary keyspace (q86's discipline); the merge is a
    * vocab-sized full outer join on the pair key; the report is a
    * TakeOrdered top-k with the q107 total tie order (count DESC, left,
    * right). The stored base table is checkpoint-materialized — the
    * warehouse boundary q120 draws. Nothing corpus-sized crosses an
    * exchange after the first aggregate.
    */
  def q124BpeIncrement(s: SparkSession, dir: String): DataFrame = {
    val isDelta = col("doc_id") % 10 === 3
    def partial(docs: DataFrame): DataFrame =
      docs.select(split(col("txt"), " ").as("ww"))
        .filter(size(col("ww")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("ww")) - 1),
          i => struct(element_at(col("ww"), i).as("l"),
            element_at(col("ww"), i + 1).as("r")))).as("b"))
        .groupBy(col("b.l").as("left_sym"), col("b.r").as("right_sym"))
        .agg(count(lit(1)).as("pc"))
    val (_, enc) = bpeFold(s, dir)
    // the stored pair-count table (checkpoint = materialization boundary)
    val base = partial(enc.filter(!isDelta))
      .select(col("left_sym"), col("right_sym"), col("pc").as("base_count"))
      .localCheckpoint(true)
    val delta = partial(enc.filter(isDelta))
      .select(col("left_sym"), col("right_sym"), col("pc").as("delta_count"))
    base.join(delta, Seq("left_sym", "right_sym"), "full_outer")
      .select(col("left_sym"), col("right_sym"),
        (coalesce(col("base_count"), lit(0L))
          + coalesce(col("delta_count"), lit(0L))).as("pair_count"),
        coalesce(col("base_count"), lit(0L)).as("base_count"),
        coalesce(col("delta_count"), lit(0L)).as("delta_count"))
      .orderBy(col("pair_count").desc, col("left_sym"), col("right_sym"))
      .limit(BpeCandidates)
  }

  /** Oracle: one-pass recount over the full encoded corpus (w3 of the
    * shared BPE chain) with conditional base/delta sums. */
  val q124Sql: String =
    s"""WITH $bpeChainCtes,
       |pc AS (
       |  SELECT bg.l AS left_sym, bg.r AS right_sym,
       |   CAST(count(*) FILTER (WHERE NOT is_delta) AS BIGINT) AS base_count,
       |   CAST(count(*) FILTER (WHERE is_delta) AS BIGINT) AS delta_count
       |  FROM (
       |    SELECT doc_id % 10 = 3 AS is_delta,
       |      unnest(CASE WHEN len(ww) >= 2
       |        THEN list_transform(range(1, len(ww)),
       |               i -> struct_pack(l := ww[i], r := ww[i+1]))
       |        ELSE [] END) AS bg
       |    FROM (SELECT doc_id, string_split(txt, ' ') AS ww FROM w3))
       |  GROUP BY 1, 2)
       |SELECT left_sym, right_sym,
       | base_count + delta_count AS pair_count, base_count, delta_count
       |FROM pc
       |ORDER BY pair_count DESC, left_sym, right_sym
       |LIMIT $BpeCandidates""".stripMargin

  // ---------------------------------------------------------------- q143

  /** Feature-hash bucket count for q143 (a 2^8 hash space — small enough
    * that the fixture vocabulary genuinely collides, the condition the
    * audit exists to measure).
    */
  val HashFeatBuckets: Int = 256

  /** q143: FEATURE-HASHING collision audit — before committing to the
    * hashing trick (categoricals → fixed B-bucket vectors, no vocabulary
    * kept), measure what it destroys: per bucket, how many distinct
    * features land there (collisions conflate their statistics) and how
    * much occurrence mass rides the bucket (a collision on two heavy
    * features hurts more than on two rare ones). The hash is the
    * engine's md5-derived [[graft.functions.TextFns.hash32]] — already
    * oracle-parity-tested by the MinHash family — mod B.
    *
    * Scale shape: vocabulary extraction is the only corpus-sized stage
    * (explode + word-keyed hash aggregate, map-side combined — q51's
    * shape); the audit itself aggregates the VOCABULARY frame down to B
    * rows. No joins, no windows.
    */
  def q143FeatureHash(s: SparkSession, dir: String): DataFrame = {
    val vocab = documents(s, dir)
      .select(explode(words(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    vocab
      .select((hash32(col("word")) % HashFeatBuckets).as("bucket"), col("cnt"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_features"), sum(col("cnt")).as("n_occurrences"))
      .withColumn("collided", col("n_features") > 1)
      .orderBy(col("bucket"))
  }

  val q143Sql: String =
    s"""WITH w AS (
       |  SELECT unnest(${wordsSql("text")}) AS word
       |  FROM documents),
       |v AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY 1)
       |SELECT CAST(${hash32Sql("word")}
       |         % $HashFeatBuckets AS BIGINT) AS bucket,
       | CAST(count(*) AS BIGINT) AS n_features,
       | CAST(SUM(cnt) AS BIGINT) AS n_occurrences,
       | count(*) > 1 AS collided
       |FROM v GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- q165

  /** Count-min sketch geometry: width (buckets per row) and depth
    * (independent hash rows). w=256 keeps the fixture sketch genuinely
    * colliding (the 31-word stress vocabulary fits, but the Heaps-law
    * corpora overflow it hard), d=3 is the textbook δ=e⁻³≈5% row count.
    */
  final val CmsWidth = 256
  final val CmsDepth = 3

  /** Heavy hitters tracked by q165 (top-k exact occurrence counts). */
  val CmsTrackK: Int = 12

  /** q165: COUNT-MIN SKETCH heavy-hitter estimation — the sketch q52's
    * Scaladoc promises for "extreme cardinality" vocabularies, built as a
    * first-class operator. The sketch is d=[[CmsDepth]] rows ×
    * w=[[CmsWidth]] counters; row r hashes a token with
    * hash60(token ':cms' r) mod w and every counter sums the occurrence
    * counts of all tokens landing there (Cormode–Muthukrishnan '05). The
    * estimate for a token is the MIN over its d counters — always ≥ the
    * true count (one-sided error, pinned in spec), within εN with
    * probability 1−δ. The report tracks the [[CmsTrackK]] highest exact
    * occurrence counts (total order: cnt DESC, term ASC — the string is
    * the tiebreak, no hash in the selection path) and emits exact count, sketch estimate, and the
    * overcount — the operator a pipeline uses to VALIDATE a sketch
    * deployment before dropping the exact vocabulary aggregate.
    *
    * The ORACLE RECOMPUTES THE SKETCH: every hash bottoms out in md5, so
    * DuckDB builds the identical d×w counter table and the hash compare
    * covers the estimates themselves, not just a bound verdict — stronger
    * than the q35/q55 bound-contract form, available here because the
    * sketch is exact integer arithmetic with no libm anywhere.
    *
    * Scale shape: vocabulary extraction is the one corpus-sized stage
    * (q51's explode + word-keyed map-side-combined aggregate). The sketch
    * build aggregates the VOCABULARY frame down to d·w rows (map-side:
    * each mapper emits ≤ 768 partials), the tracked set is a bounded
    * TopKPairs heap, and the probe joins 3·k probe rows against the
    * BROADCAST d·w counter table. Nothing corpus-sized ever shuffles
    * twice, and the sketch itself is mergeable across any partitioning —
    * the property that makes it the streaming/distributed standard.
    */
  /** The d×w CMS counter table of a one-column `term` occurrence frame —
    * ONE definition shared by q165's batch sketch, and by the streaming
    * drain spec that proves per-micro-batch sketches merged by counter
    * addition equal this batch form exactly (linearity — the property
    * that makes CMS the streaming/distributed standard).
    */
  private[graft] def cmsCountersFromCounts(cnt: DataFrame): DataFrame =
    cnt.select(col("cnt"), explode(cmsRowBuckets).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.bucket").as("bucket"))
      .agg(sum(col("cnt")).as("c"))

  /** A `term`'s [[CmsDepth]] sketch cells as an array of (r, bucket):
    * row r hashes hash60(term ':cms' r) mod [[CmsWidth]]. */
  private def cmsRowBuckets: Column =
    array((0 until CmsDepth).map(r => struct(lit(r).as("r"),
      (hash60(concat(col("term"), lit(s":cms$r"))) % CmsWidth).as("bucket"))): _*)

  /** DuckDB twin of one [[cmsRowBuckets]] cell: `term`'s bucket in row `r`. */
  private def cmsBucketSql(term: String, r: String): String =
    s"${hash60Sql(s"concat($term, ':cms', CAST($r AS VARCHAR))")} % $CmsWidth"

  /** The [[CmsTrackK]] tracked heavy hitters of a (term, cnt) frame as
    * (rnk, term, cnt). It carries the term STRING through an
    * orderBy.limit (TakeOrderedAndProject — a bounded distributed heap
    * over the vocabulary), total order (cnt DESC, term ASC). No hash id
    * and no join-back: the previous hash60 heap carried a ~|V|²/2⁶¹
    * md5-prefix collision window on the join-back (r13 advice #3).
    */
  private def cmsTracked(cnt: DataFrame): DataFrame =
    cnt
      .orderBy(col("cnt").desc, col("term").asc).limit(CmsTrackK)
      .agg(sort_array(collect_list(struct((-col("cnt")).as("nc"), col("term")))).as("sel"))
      .select(posexplode(col("sel")).as(Seq("pos", "t")))
      .select((col("pos") + 1).cast("long").as("rnk"), col("t.term").as("term"),
        (-col("t.nc")).as("cnt"))

  private[graft] def cmsCountersFromTokens(toks: DataFrame): DataFrame =
    cmsCountersFromCounts(
      toks.groupBy(col("term")).agg(count(lit(1)).as("cnt")))

  def q165CmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val cnt = documents(s, dir)
      .select(explode(words(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))

    val counters = cmsCountersFromCounts(cnt)

    cmsTracked(cnt)
      .select(col("rnk"), col("term"), col("cnt"), explode(cmsRowBuckets).as("rb"))
      .join(broadcast(counters),
        col("rb.r") === counters("r") && col("rb.bucket") === counters("bucket"))
      .groupBy(col("rnk"), col("term"), col("cnt"))
      .agg(min(col("c")).as("cms_est"))
      .select(col("rnk"), col("term").as("token"), col("cnt").as("exact_cnt"),
        col("cms_est"), (col("cms_est") - col("cnt")).as("overcount"))
      .orderBy(col("rnk"))
  }

  val q165Sql: String =
    s"""WITH w AS (
       |  SELECT unnest(${wordsSql("text")}) AS term
       |  FROM documents),
       |cnt AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY 1),
       |rb AS (
       |  SELECT term, cnt, r, ${cmsBucketSql("term", "r")} AS bucket
       |  FROM cnt CROSS JOIN (SELECT unnest([${(0 until CmsDepth).mkString(", ")}]) AS r)),
       |counters AS (SELECT r, bucket, CAST(SUM(cnt) AS BIGINT) AS c FROM rb GROUP BY 1, 2),
       |tracked AS (
       |  SELECT term, cnt, row_number() OVER (ORDER BY cnt DESC, term ASC) AS rnk
       |  FROM cnt)
       |SELECT CAST(t.rnk AS BIGINT) AS rnk, t.term AS token, t.cnt AS exact_cnt,
       |  MIN(c.c) AS cms_est, MIN(c.c) - t.cnt AS overcount
       |FROM tracked t JOIN rb b USING (term) JOIN counters c USING (r, bucket)
       |WHERE t.rnk <= $CmsTrackK
       |GROUP BY t.rnk, t.term, t.cnt ORDER BY t.rnk""".stripMargin

  // ---------------------------------------------------------------- q169

  /** q169: DISTRIBUTED count-min sketches — one sketch PER SOURCE, merged
    * by counter addition, audited against exact counts. This is q165's
    * mergeability claim turned into a measured operator: each source
    * builds its own d×w sketch independently (the shape of a sketch per
    * Kafka partition / per ingest site / per day), the merge is a single
    * `sum` over the (r, bucket) keyspace — counters are linear, so
    * merge(sketches) ≡ sketch(union) EXACTLY, not approximately — and the
    * report shows, for every tracked heavy hitter × every source:
    * the source-local exact count (0 where absent), the source-local
    * sketch estimate, and the merged estimate. Absent tokens expose the
    * sketch's false-positive mass (a source's sketch can answer > 0 for
    * a token the source never saw — collision mass only), which is the
    * number an operator reads before trusting per-source sketch
    * attribution. The oracle rebuilds every per-source sketch and the
    * merge from the same md5 hashes — estimates hash-compared, not
    * bound-checked.
    *
    * Scale shape: one (source, term) hash aggregate over the corpus
    * (map-side combined), sketches aggregate that vocabulary frame to
    * sources·d·w rows, the merge to d·w; tracked×sources is a bounded
    * grid (k·sources) probing BROADCAST counter tables. The merge step
    * is the whole point at 1000 executors: sketches travel as 768-row
    * frames, never the vocabulary.
    */
  def q169CmsMerge(s: SparkSession, dir: String): DataFrame = {
    val cntSrc = documents(s, dir)
      .select(col("source"), explode(words(col("text"))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))
    val countersSrc = cntSrc
      .select(col("source"), col("cnt"), explode(cmsRowBuckets).as("rb"))
      .groupBy(col("source"), col("rb.r").as("r"), col("rb.bucket").as("bucket"))
      .agg(sum(col("cnt")).as("c"))
    // THE merge: counter addition over (r, bucket) — linearity makes it exact
    val countersMerged = countersSrc
      .groupBy(col("r"), col("bucket")).agg(sum(col("c")).as("c"))

    val cnt = cntSrc.groupBy(col("term")).agg(sum(col("cnt")).as("cnt"))
    val tracked = cmsTracked(cnt).select(col("rnk"), col("term"))

    val grid = tracked.crossJoin(broadcast(cntSrc.select(col("source")).distinct()))
    val probes = grid
      .join(cntSrc.withColumnRenamed("cnt", "src_exact"), Seq("source", "term"), "left")
      .na.fill(0L, Seq("src_exact"))
      .select(col("rnk"), col("term"), col("source"), col("src_exact"),
        explode(cmsRowBuckets).as("rb"))
      .select(col("rnk"), col("term"), col("source"), col("src_exact"),
        col("rb.r").as("r"), col("rb.bucket").as("bucket"))
    // LEFT join + 0-fill for the source sketch: a bucket the source never
    // populated has counter 0 — an inner join (or a null-skipping MIN)
    // would silently drop it and OVERSTATE the source estimate.
    probes
      .join(broadcast(countersSrc.withColumnRenamed("c", "c_src")),
        Seq("source", "r", "bucket"), "left")
      .na.fill(0L, Seq("c_src"))
      .join(broadcast(countersMerged.withColumnRenamed("c", "c_all")),
        Seq("r", "bucket"))
      .groupBy(col("rnk"), col("term"), col("source"), col("src_exact"))
      .agg(min(col("c_src")).as("src_est"), min(col("c_all")).as("merged_est"))
      .select(col("rnk"), col("term").as("token"), col("source"),
        col("src_exact"), col("src_est"), col("merged_est"))
      .orderBy(col("rnk"), col("source"))
  }

  val q169Sql: String =
    s"""WITH w AS (
       |  SELECT source, unnest(${wordsSql("text")}) AS term
       |  FROM documents),
       |cnt_src AS (SELECT source, term, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY 1, 2),
       |rb AS (
       |  SELECT source, term, cnt, r, ${cmsBucketSql("term", "r")} AS bucket
       |  FROM cnt_src CROSS JOIN (SELECT unnest([${(0 until CmsDepth).mkString(", ")}]) AS r)),
       |counters_src AS (
       |  SELECT source, r, bucket, CAST(SUM(cnt) AS BIGINT) AS c FROM rb GROUP BY 1, 2, 3),
       |counters_all AS (
       |  SELECT r, bucket, CAST(SUM(c) AS BIGINT) AS c FROM counters_src GROUP BY 1, 2),
       |cnt AS (SELECT term, CAST(SUM(cnt) AS BIGINT) AS cnt FROM cnt_src GROUP BY 1),
       |tracked AS (
       |  SELECT term, row_number() OVER (ORDER BY cnt DESC, term ASC) AS rnk
       |  FROM cnt),
       |grid AS (
       |  SELECT t.rnk, t.term, s.source
       |  FROM tracked t CROSS JOIN (SELECT DISTINCT source FROM cnt_src) s
       |  WHERE t.rnk <= $CmsTrackK),
       |pr AS (
       |  SELECT g.rnk, g.term, g.source,
       |   COALESCE(c.cnt, 0) AS src_exact, b.r,
       |   ${cmsBucketSql("g.term", "b.r")} AS bucket
       |  FROM grid g
       |  LEFT JOIN cnt_src c ON c.source = g.source AND c.term = g.term
       |  CROSS JOIN (SELECT unnest([${(0 until CmsDepth).mkString(", ")}]) AS r) b)
       |SELECT CAST(p.rnk AS BIGINT) AS rnk, p.term AS token, p.source,
       | p.src_exact, MIN(COALESCE(cs.c, 0)) AS src_est, MIN(ca.c) AS merged_est
       |FROM pr p
       |LEFT JOIN counters_src cs ON cs.source = p.source AND cs.r = p.r AND cs.bucket = p.bucket
       |JOIN counters_all ca ON ca.r = p.r AND ca.bucket = p.bucket
       |GROUP BY p.rnk, p.term, p.source, p.src_exact
       |ORDER BY p.rnk, p.source""".stripMargin

  // ---------------------------------------------------------------- q186

  /** Prefix checkpoints for the growth curves (q186/q187), in integer
    * PERCENT of the corpus in ingestion order (doc_id ascending).
    * Integer percents keep every prefix size m = n·pct div 100 exact
    * integer arithmetic in both engines — no float fraction of a count
    * anywhere, so no rounding surface.
    */
  val GrowthPcts: Seq[Int] = Seq(1, 2, 5, 10, 25, 50, 100)

  /** Two-phase global 1-based rank of documents by doc_id — q50's
    * distributed rank pattern applied at corpus width: range-partition
    * the ids, row_number within each partition, add broadcast cumulative
    * offsets. Bit-identical to the oracle's global `row_number() OVER
    * (ORDER BY doc_id)` without ever planning a single-partition window
    * (the suite-wide PlanSpec ban). Memoized per (session, dir): both
    * growth curves (q186, q187) read it, twice each.
    */
  private val docRanks = new Dedup.Memo[DataFrame]("doc_ranks")((s, dir) =>
    computeDocRanks(s, dir).localCheckpoint(true))

  private def computeDocRanks(s: SparkSession, dir: String): DataFrame = {
    val buckets = s.sparkContext.defaultParallelism
    val keys = documents(s, dir).select(col("doc_id"))
      .repartitionByRange(buckets, col("doc_id"))
      .withColumn("bucket", spark_partition_id())
    // eager checkpoint pins ONE bucket assignment for both consumers
    // (q50's range-partition determinism note applies verbatim)
    val local = keys.withColumn("local_rn",
      row_number().over(Window.partitionBy(col("bucket")).orderBy(col("doc_id"))))
      .localCheckpoint(true)
    val cnts = local.groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
    val offsets = cnts.select(col("bucket"), col("cnt"))
      .join(broadcast(cnts.select(col("bucket").as("lb"), col("cnt").as("lc"))),
        col("lb") < col("bucket"), "left")
      .groupBy(col("bucket")).agg(coalesce(sum(col("lc")), lit(0L)).as("off"))
    local.join(broadcast(offsets), "bucket")
      .select(col("doc_id"), (col("off") + col("local_rn")).cast("long").as("rnk"))
  }

  /** The 7-row checkpoint frame (pct, m): prefix sizes from ONE corpus
    * count — every growth aggregate equi-joins this broadcast, so no
    * nested-loop join appears anywhere in the curves. */
  private def growthChk(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).agg(count(lit(1)).as("n"))
      .select(explode(typedlit(GrowthPcts)).as("pct"), col("n"))
      .select(col("pct"), expr("(n * pct) div 100").as("m"))

  /** (pct, m, thr) with thr = the m-th smallest doc_id (NULL when
    * m = 0). Because [[docRanks]] assigns ranks in doc_id order,
    * rank(doc) ≤ m ⇔ doc_id ≤ thr — so every growth aggregate can test
    * its prefix membership against this broadcast 7-row frame directly
    * (r20-opt, guide §2.4): the r19 shape instead equi-joined the
    * corpus-width rank table onto each leg (two doc-count-sized join
    * exchanges per curve). The rank table is now read once, by the
    * 7-row m = rnk lookup below. NULL-thr semantics match rank ≤ 0:
    * the `<= null` comparison is null and the filter drops the row.
    */
  private def growthThresholds(s: SparkSession, dir: String): DataFrame =
    growthChk(s, dir)
      .join(docRanks(s, dir).select(col("rnk").as("m"), col("doc_id").as("thr")),
        Seq("m"), "left")
      .localCheckpoint(true)

  /** q186: vocabulary-growth (Heaps' law) curve — |vocabulary| and token
    * count at each corpus prefix, the measurement that fits V ≈ K·Tᵝ
    * (Heaps 1978) and answers the 100 TB planning questions "how fast is
    * the type inventory still growing?" and "what vocabulary budget does
    * a tokenizer trained at this scale need?" — the standard curve a
    * corpus report shows next to Zipf (cf. q84's surprisal, q107's BPE).
    *
    * Scale shape: a term's first appearance IS the rank of its MINIMUM
    * doc_id (ranks are monotone in doc_id), so the whole curve needs one
    * tokenize + min-aggregate (vocabulary-keyed), one corpus-width
    * two-phase rank ([[docRanks]] — no single-partition window), and a
    * ×|checkpoints| explode of the per-TERM first-rank table (vocabulary-
    * sized, not token-sized) hash-aggregated map-side to 7 rows. All
    * outputs integers — nothing for two engines to disagree on.
    */
  def q186VocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val chk = growthThresholds(s, dir)
    val d = resplit(documents(s, dir).select(col("doc_id"), col("text")))
    // prefix membership by doc_id threshold (see growthThresholds) — the
    // corpus-width rank joins the r19 shape paid on both legs are gone
    val first = d.select(col("doc_id"), explode(words(col("text"))).as("term"))
      .groupBy(col("term")).agg(min(col("doc_id")).as("first_doc"))
    val voc = first.select(col("first_doc"), explode(typedlit(GrowthPcts)).as("pct"))
      .join(broadcast(chk), "pct")
      .filter(col("first_doc") <= col("thr"))
      .groupBy(col("pct")).agg(count(lit(1)).as("vocab"))
    val tks = d.select(col("doc_id"), size(words(col("text"))).cast("long").as("tc"))
      .select(col("doc_id"), col("tc"), explode(typedlit(GrowthPcts)).as("pct"))
      .join(broadcast(chk), "pct")
      .filter(col("doc_id") <= col("thr"))
      .groupBy(col("pct")).agg(sum(col("tc")).as("n_tokens"))
    chk.join(voc, Seq("pct"), "left").join(tks, Seq("pct"), "left")
      .select(col("pct"), col("m").as("n_docs"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("vocab"), lit(0L)).as("vocab"))
      .orderBy(col("pct"))
  }

  val q186Sql: String = {
    val pcts = GrowthPcts.map(p => s"($p)").mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, ${wordsSql("text")} AS ww FROM documents),
       |rk AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rnk
       |  FROM documents),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |chk AS (SELECT pct, (n * pct) // 100 AS m FROM (VALUES $pcts) p(pct), tot),
       |fst AS (
       |  SELECT term, min(doc_id) AS doc_id
       |  FROM (SELECT doc_id, unnest(ww) AS term FROM d) t GROUP BY term),
       |fr AS (SELECT r.rnk AS fr FROM fst f JOIN rk r USING (doc_id)),
       |voc AS (
       |  SELECT c.pct, CAST(count(*) AS BIGINT) AS vocab
       |  FROM fr, chk c WHERE fr.fr <= c.m GROUP BY 1),
       |tks AS (
       |  SELECT c.pct, CAST(sum(len(d.ww)) AS BIGINT) AS n_tokens
       |  FROM d JOIN rk r USING (doc_id), chk c WHERE r.rnk <= c.m GROUP BY 1)
       |SELECT c.pct, c.m AS n_docs,
       | COALESCE(tks.n_tokens, 0) AS n_tokens,
       | COALESCE(voc.vocab, 0) AS vocab
       |FROM chk c
       |LEFT JOIN tks ON c.pct = tks.pct
       |LEFT JOIN voc ON c.pct = voc.pct
       |ORDER BY c.pct""".stripMargin
  }

  // ---------------------------------------------------------------- q187

  /** q187: duplicate-rate growth curve — at each corpus prefix, how many
    * documents are near-dup graph members, how many distinct dup
    * clusters have appeared, and how many documents a canonical-keep
    * dedup would DROP (members − clusters). Dedup savings grow
    * superlinearly with corpus size (the birthday effect: a pair needs
    * both ends present), so the rate measured at a sample UNDERSTATES
    * the rate at 100 TB — this curve is the extrapolation evidence, the
    * dedup-planning twin of q186's vocabulary curve.
    *
    * Scale shape: reuses the MEMOIZED q45 component labels (no new pair
    * generation) and [[docRanks]]; the cluster-appearance gate is free —
    * a component's label IS its minimum member id, and ranks are
    * monotone in doc_id, so "cluster present in prefix" ⇔ "rank(label) ≤
    * m" with no per-(cluster, prefix) min-aggregate at all. Everything
    * downstream is |members|×7 explode → 7-row aggregates. All integers.
    */
  def q187DupGrowth(s: SparkSession, dir: String): DataFrame = {
    val chk = growthThresholds(s, dir)
    val labels = Dedup.componentLabels(s, dir)
    // prefix membership by doc_id threshold (see growthThresholds) — no
    // rank joins; the cluster-appearance gate stays free (a component's
    // label IS its minimum member id, and ids order like ranks)
    val members = labels
      .select(col("doc"), explode(typedlit(GrowthPcts)).as("pct"))
      .join(broadcast(chk), "pct")
      .filter(col("doc") <= col("thr"))
      .groupBy(col("pct")).agg(count(lit(1)).as("dup_members"))
    val clusters = labels.select(col("comp")).distinct()
      .select(col("comp"), explode(typedlit(GrowthPcts)).as("pct"))
      .join(broadcast(chk), "pct")
      .filter(col("comp") <= col("thr"))
      .groupBy(col("pct")).agg(count(lit(1)).as("dup_clusters"))
    chk.join(members, Seq("pct"), "left").join(clusters, Seq("pct"), "left")
      .select(col("pct"), col("m").as("n_docs"),
        coalesce(col("dup_members"), lit(0L)).as("dup_members"),
        coalesce(col("dup_clusters"), lit(0L)).as("dup_clusters"),
        (coalesce(col("dup_members"), lit(0L))
          - coalesce(col("dup_clusters"), lit(0L))).as("n_duplicates"))
      .orderBy(col("pct"))
  }

  /** q187's oracle rides the shared q45 components block (so the sf1
    * sweep's CTE cache serves it too). */
  val q187Sql: String = {
    val pcts = GrowthPcts.map(p => s"($p)").mkString(", ")
    s"""WITH RECURSIVE ${Dedup.sqlComponentsCtes},
       |rk AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rnk
       |  FROM documents),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |chk AS (SELECT pct, (n * pct) // 100 AS m FROM (VALUES $pcts) p(pct), tot),
       |mem AS (SELECT r.rnk FROM labels l JOIN rk r ON l.doc = r.doc_id),
       |mm AS (
       |  SELECT c.pct, CAST(count(*) AS BIGINT) AS dup_members
       |  FROM mem, chk c WHERE mem.rnk <= c.m GROUP BY 1),
       |cm AS (
       |  SELECT c.pct, CAST(count(*) AS BIGINT) AS dup_clusters
       |  FROM (SELECT DISTINCT comp FROM labels) k
       |  JOIN rk r ON k.comp = r.doc_id, chk c
       |  WHERE r.rnk <= c.m GROUP BY 1)
       |SELECT c.pct, c.m AS n_docs,
       | COALESCE(mm.dup_members, 0) AS dup_members,
       | COALESCE(cm.dup_clusters, 0) AS dup_clusters,
       | COALESCE(mm.dup_members, 0) - COALESCE(cm.dup_clusters, 0) AS n_duplicates
       |FROM chk c
       |LEFT JOIN mm ON c.pct = mm.pct
       |LEFT JOIN cm ON c.pct = cm.pct
       |ORDER BY c.pct""".stripMargin
  }

  // ---------------------------------------------------------------- q188

  /** q188: tokenizer-efficiency (fertility) report per language — after
    * applying the learned merge rules (q107's training, q111's encode),
    * the tokens-per-word and chars-per-token each language pays under
    * the shared tokenizer. This is the report a multilingual pipeline
    * reads before committing a tokenizer: languages the merge table
    * under-serves (fertility near 1, high chars/token) are the ones
    * whose effective context window shrinks — the standard fertility
    * audit (e.g. Rust et al. 2021, "How good is your tokenizer?") over
    * the corpus's own BPE artifacts.
    *
    * Scale shape: rides the MEMOIZED q107/q111 fold (no new merge
    * training); one id-keyed join of two document-sized count frames,
    * then a language-keyed hash aggregate (map-side partials). The two
    * ratios divide one corpus-level integer sum by another — the same
    * int/int→ROUND(…,6) discipline q111's compression column ships.
    */
  def q188TokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    val enc = bpeFold(s, dir)._2
      .select(col("doc_id"), size(split(col("txt"), " ")).cast("long").as("n_bpe"))
    val meta = documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(words(col("text"))).cast("long").as("n_words"))
    meta.join(enc, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_bpe")).as("n_tok_bpe"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_tok_bpe"),
        col("n_chars"),
        round(col("n_tok_bpe").cast("double") / col("n_words").cast("double"), 6)
          .as("fertility"),
        round(col("n_chars").cast("double") / col("n_tok_bpe").cast("double"), 6)
          .as("chars_per_token"))
      .orderBy(col("lang"))
  }

  val q188Sql: String =
    s"""WITH $bpeChainCtes
       |SELECT d.lang,
       | CAST(count(*) AS BIGINT) AS n_docs,
       | CAST(sum(len(string_split(w0.txt, ' '))) AS BIGINT) AS n_words,
       | CAST(sum(len(string_split(w3.txt, ' '))) AS BIGINT) AS n_tok_bpe,
       | CAST(sum(d.n_chars) AS BIGINT) AS n_chars,
       | ROUND(CAST(sum(len(string_split(w3.txt, ' '))) AS DOUBLE)
       |   / sum(len(string_split(w0.txt, ' '))), 6) AS fertility,
       | ROUND(CAST(sum(d.n_chars) AS DOUBLE)
       |   / sum(len(string_split(w3.txt, ' '))), 6) AS chars_per_token
       |FROM documents d
       |JOIN w0 ON d.doc_id = w0.doc_id
       |JOIN w3 ON d.doc_id = w3.doc_id
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  // ---------------------------------------------------------------- q190

  /** q190: cross-source near-dup contamination matrix — near-dup pair
    * counts bucketed by unordered (source, source): the diagonal is
    * within-source redundancy (a crawl re-visiting itself), off-diagonal
    * cells are CROSS-source contamination (two feeds shipping the same
    * content) — the input to "dedup within or across feeds?", one of the
    * first questions a multi-source 100 TB ingest answers. q80 measures
    * source VOCABULARY overlap; this measures actual near-duplicate
    * documents, pair by pair.
    *
    * Scale shape: rides the MEMOIZED q22 pair list (no new pair
    * generation); two id-keyed joins against the (doc_id, source)
    * projection, an unordered-pair normalization (least/greatest — both
    * engines compare strings bytewise), and a source²-bounded hash
    * aggregate. Per-source doc counts join in for rate context. All
    * integers and strings.
    */
  def q190SourceContamination(s: SparkSession, dir: String): DataFrame = {
    val src = documents(s, dir).select(col("doc_id"), col("source"))
    val cnts = src.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val agg = Dedup.q22Cached(s, dir).select(col("doc_a"), col("doc_b"))
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_a")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_b")), "doc_b")
      .select(least(col("src_a"), col("src_b")).as("source_a"),
        greatest(col("src_a"), col("src_b")).as("source_b"))
      .groupBy(col("source_a"), col("source_b")).agg(count(lit(1)).as("n_pairs"))
    agg
      .join(broadcast(cnts.select(col("source").as("source_a"), col("n_docs").as("docs_a"))),
        "source_a")
      .join(broadcast(cnts.select(col("source").as("source_b"), col("n_docs").as("docs_b"))),
        "source_b")
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        col("docs_a"), col("docs_b"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** q190's oracle rides the shared q45 components block (its `near` CTE
    * is the pair list; the recursive tail goes unreferenced, and the sf1
    * CTE cache serves the block). */
  val q190Sql: String =
    s"""WITH RECURSIVE ${Dedup.sqlComponentsCtes},
       |srcs AS (SELECT doc_id, source FROM documents),
       |cnts AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM documents GROUP BY source),
       |mp AS (
       |  SELECT least(sa.source, sb.source) AS source_a,
       |   greatest(sa.source, sb.source) AS source_b
       |  FROM near n
       |  JOIN srcs sa ON n.doc_a = sa.doc_id
       |  JOIN srcs sb ON n.doc_b = sb.doc_id),
       |agg AS (
       |  SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
       |  FROM mp GROUP BY 1, 2)
       |SELECT a.source_a, a.source_b, a.n_pairs,
       | ca.n_docs AS docs_a, cb.n_docs AS docs_b
       |FROM agg a
       |JOIN cnts ca ON a.source_a = ca.source
       |JOIN cnts cb ON a.source_b = cb.source
       |ORDER BY source_a, source_b""".stripMargin

  // ---------------------------------------------------------------- q191

  /** Absolute-discount constant for q191 (Kneser–Ney's canonical D;
    * 3/4 is a power-of-two fraction, so c − D and D·n are exact in IEEE
    * doubles). */
  val KnDiscount: Double = 0.75

  /** q191: interpolated Kneser–Ney bigram document scoring — the
    * production-grade step past q115's add-k smoothing (Kneser & Ney
    * 1995; Chen & Goodman 1999 made interpolated KN the standard n-gram
    * baseline, and CCNet-style corpus filters rank documents with
    * exactly this family):
    *
    *   p(r|l) = (c(l,r) − D)/c(l·) + λ(l)·p_cont(r)
    *   λ(l) = D·N₁₊(l·)/c(l·),  p_cont(r) = N₁₊(·r)/N₁₊(··)
    *
    * where N₁₊ are distinct-continuation counts — the "how many contexts
    * has this word followed" statistic that makes KN robust to burst
    * tokens (a word frequent in ONE document stops inflating its
    * unigram back-off). Every doc bigram has c ≥ 1 in the self-trained
    * model, so the discounted term is positive and the max(·,0) clamp is
    * structurally inactive.
    *
    * Scale shape = q115's: doc-keyed bigram counts map-side, the model
    * lives on the bigram vocabulary (c, prefix marginals, continuation
    * counts are three vocab-sized aggregates), N₁₊(··) is a broadcast
    * 1-row frame, and the doc rejoin keys on (l, r). Determinism:
    * probabilities combine integer-derived exact doubles in an
    * expression mirrored token-for-token in the oracle; ln ulp and
    * per-doc sum order are absorbed by the 4dp round (q84/q115's rule).
    */
  def q191KneserNey(s: SparkSession, dir: String): DataFrame = {
    val d = lit(KnDiscount)
    // shared memoized substrate with q115 — identical construction
    val docBi = docBigrams(s, dir)
    val big = bigramTable(s, dir)
    // prefix marginal AND distinct-continuation count ride one aggregate
    // (big is distinct (l, r) by construction, so count(*) = N₁₊(l·))
    val pre = big.groupBy(col("l"))
      .agg(sum(col("c_lr")).as("c_l"), count(lit(1)).as("n1_l"))
    val cont = big.groupBy(col("r")).agg(count(lit(1)).as("n1_r"))
    val n1All = big.agg(count(lit(1)).as("n1_all"))
    val model = big.join(pre, Seq("l")).join(cont, Seq("r"))
      .crossJoin(broadcast(n1All))
      .select(col("l"), col("r"),
        log((col("c_lr").cast("double") - d) / col("c_l").cast("double")
          + (d * col("n1_l").cast("double") / col("c_l").cast("double"))
            * (col("n1_r").cast("double") / col("n1_all").cast("double"))).as("logp"))
    docBi.join(model, Seq("l", "r"))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        round(-sum(col("k").cast("double") * col("logp"))
          / sum(col("k")).cast("double"), 4).as("nll_kn"))
      .orderBy(col("doc_id"))
  }

  val q191Sql: String =
    s"""WITH w AS (
       |  SELECT doc_id, ${wordsSql("text")} AS ww FROM documents),
       |db AS (
       |  SELECT doc_id, b.l AS l, b.r AS r, CAST(count(*) AS BIGINT) AS k FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(ww)),
       |      i -> struct_pack(l := ww[i], r := ww[i+1]))) AS b
       |    FROM w WHERE len(ww) >= 2)
       |  GROUP BY doc_id, b.l, b.r),
       |big AS (SELECT l, r, CAST(sum(k) AS BIGINT) AS c_lr FROM db GROUP BY l, r),
       |pre AS (
       |  SELECT l, CAST(sum(c_lr) AS BIGINT) AS c_l,
       |   CAST(count(*) AS BIGINT) AS n1_l
       |  FROM big GROUP BY l),
       |cont AS (SELECT r, CAST(count(*) AS BIGINT) AS n1_r FROM big GROUP BY r),
       |n1a AS (SELECT CAST(count(*) AS BIGINT) AS n1_all FROM big),
       |m AS (
       |  SELECT big.l, big.r,
       |   ln((c_lr - $KnDiscount) / c_l
       |     + ($KnDiscount * n1_l / c_l) * (CAST(n1_r AS DOUBLE) / n1_all)) AS logp
       |  FROM big JOIN pre ON big.l = pre.l JOIN cont ON big.r = cont.r
       |  CROSS JOIN n1a)
       |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
       | ROUND(-sum(k * logp) / sum(k), 4) AS nll_kn
       |FROM db JOIN m ON db.l = m.l AND db.r = m.r
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
