package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.TextFns._

/** Corpus-curation operators that complete the dedup/decontamination
  * family (SURVEY.md §2.4 LLM-pipeline row): cross-document boilerplate
  * detection (the C4-style "repeated line" filter, at passage granularity)
  * and a Bloom-prefiltered benchmark decontamination — the map-only scale
  * path for q60's exact inverted-index join.
  */
object Curation {

  /** Passage width (word n-gram) for boilerplate detection. */
  val PassageN: Int = 4

  /** Minimum distinct documents containing a passage before it counts as
    * boilerplate.
    */
  val MinDocs: Int = 3

  /** q69: cross-document boilerplate passages — word [[PassageN]]-grams
    * appearing in ≥ [[MinDocs]] distinct documents, with document
    * frequency and total occurrence count. This is the corpus-hygiene scan
    * (headers, footers, license blurbs, navigation chrome) run before
    * near-dup analysis: exact passage repetition across documents, where
    * q51 measures repetition *within* one document and q22/q23 measure
    * whole-document similarity.
    *
    * Plan: explode → one hash aggregate keyed by passage. countDistinct
    * expands to a two-level aggregate (partial distinct on (passage, doc)
    * map-side), so the shuffle is bounded by the distinct passage×doc
    * surface, never all occurrences; group count is vocabulary-sized. At
    * 100 TB you'd key the exchange on a 64-bit passage hash and keep the
    * string only as an aggregated exemplar — here passages are short and
    * the string key keeps the oracle exact.
    */
  def q69BoilerplatePassages(s: SparkSession, dir: String): DataFrame =
    resplit(documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(shingles(words(col("text")), PassageN)).as("passage"))
      .groupBy(col("passage"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= MinDocs)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("passage"))

  val q69Sql: String =
    s"""WITH w AS (
       |  SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |g AS (
       |  SELECT doc_id, unnest(CASE WHEN len(w) >= $PassageN
       |    THEN list_transform(range(1, len(w) - ${PassageN - 2}),
       |           i -> array_to_string(w[i:i+${PassageN - 1}], ' '))
       |    ELSE [] END) AS passage
       |  FROM w)
       |SELECT passage, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       | CAST(count(*) AS BIGINT) AS n_occ
       |FROM g GROUP BY passage HAVING count(DISTINCT doc_id) >= $MinDocs
       |ORDER BY n_docs DESC, n_occ DESC, passage""".stripMargin

  /** Shingle width for the Bloom decontamination check (narrower than
    * q60's [[TrainingData.DecontamN]] = stricter: more grams per doc, so
    * the contamination *fraction* is a graded signal rather than q60's
    * any-hit flag).
    */
  val BloomN: Int = 4

  /** Contamination fraction at or above which a training document is
    * dropped.
    */
  val DropFrac: Double = 0.5

  /** q70: Bloom-prefiltered decontamination — per-training-document
    * contamination fraction against the held-out eval split (every 10th
    * doc, the q60/q66 convention) and the resulting keep/drop decision.
    *
    * Scale design — this is q60's check restructured for the 100 TB case
    * where even the *shared-shingle* join is too wide: the eval side's
    * distinct grams are folded into a Bloom filter (built once, a few GB
    * for billions of grams at 1% FPP) and broadcast, so the training scan
    * drops non-colliding grams MAP-SIDE and only the tiny surviving
    * fraction reaches the exact verify join. False positives cost only
    * wasted verify work — the output is exact because every counted hit is
    * confirmed by the equi-join. The per-doc gram totals come from the
    * same pre-filter scan (one pass), and the final left join restores the
    * zero-hit documents the prefilter eliminated.
    */
  def q70BloomDecontam(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    // ONE tokenize + shingle + distinct pass over the whole corpus
    // (r19-opt): the eval and train splits are disjoint doc_id slices, so
    // distinct-then-filter ≡ filter-then-distinct and both sides can read
    // the same materialized gram frame — before this the map-side shingle
    // work ran twice (once per split). At 100 TB that is a second full
    // corpus pass for zero information.
    val g = resplit(d.select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(shingles(words(col("text")), BloomN)).as("g"))
      .distinct()
      .localCheckpoint()
    // Eval side: small by construction (held-out benchmarks), reused for
    // the Bloom build and the verify join — checkpoint so it computes once.
    val ev = g.filter(col("doc_id") % 10 === 0)
      .select(col("g").as("eval_g")).distinct()
      .localCheckpoint()
    val bloom = ev.stat.bloomFilter("eval_g", math.max(ev.count(), 1L), 0.01)
    val bbc = s.sparkContext.broadcast(bloom)
    val mightContain = udf((g: String) => bbc.value.mightContain(g))

    val tg = g.filter(col("doc_id") % 10 =!= 0)
    // Anchor the report on the DOCUMENTS table, not on the gram surface: a
    // training doc shorter than BloomN words yields zero shingles and
    // would otherwise vanish from the keep/drop report entirely (neither
    // kept nor dropped). Zero-gram docs have nothing to overlap, so they
    // keep with contam 0 — guarded explicitly because 0/0 is NaN in Spark
    // but NULL in DuckDB.
    val perDoc = d.filter(col("doc_id") % 10 =!= 0).select(col("doc_id"))
      .join(tg.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams")),
        Seq("doc_id"), "left")
      .withColumn("n_grams", coalesce(col("n_grams"), lit(0L)))
    val hits = tg.filter(mightContain(col("g"))) // map-only: no shuffle of clean grams
      .join(ev, col("g") === col("eval_g"), "left_semi") // exact verify of survivors
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
    perDoc.join(hits, Seq("doc_id"), "left")
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      // keep decides on the RAW fraction (exact: one IEEE division of two
      // longs in both engines); contam_frac is rounded for presentation only
      .withColumn("keep", col("n_grams") === 0L ||
        col("n_hit").cast("double") / col("n_grams").cast("double") < DropFrac)
      .withColumn("contam_frac", when(col("n_grams") === 0L, lit(0.0)).otherwise(
        round(col("n_hit").cast("double") / col("n_grams").cast("double"), 6)))
      .select(col("doc_id"), col("n_grams"), col("n_hit"), col("contam_frac"), col("keep"))
      .orderBy(col("doc_id"))
  }

  val q70Sql: String =
    s"""WITH w AS (
       |  SELECT doc_id, ${wordsSql("text")} AS w FROM documents),
       |${shingleSetSql("g", "doc_id", BloomN, "w")},
       |ev AS (SELECT DISTINCT s FROM g WHERE doc_id % 10 = 0),
       |tr AS (SELECT doc_id, s FROM g WHERE doc_id % 10 <> 0),
       |per AS (
       |  SELECT d.doc_id, COALESCE(g.n_grams, CAST(0 AS BIGINT)) AS n_grams
       |  FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
       |  LEFT JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
       |             FROM tr GROUP BY doc_id) g
       |    ON d.doc_id = g.doc_id),
       |h AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit
       |  FROM tr WHERE s IN (SELECT s FROM ev) GROUP BY doc_id)
       |SELECT per.doc_id, n_grams, COALESCE(n_hit, CAST(0 AS BIGINT)) AS n_hit,
       | CASE WHEN n_grams = 0 THEN 0.0
       |      ELSE ROUND(CAST(COALESCE(n_hit, 0) AS DOUBLE) / n_grams, 6) END AS contam_frac,
       | n_grams = 0 OR CAST(COALESCE(n_hit, 0) AS DOUBLE) / n_grams < $DropFrac AS keep
       |FROM per LEFT JOIN h ON per.doc_id = h.doc_id
       |ORDER BY per.doc_id""".stripMargin

  /** q82: quality-based keeper selection — for every near-dup cluster,
    * pick the member to KEEP by document quality (q18/q58's composite),
    * not by min id. Min-id canonicalization (q45's `comp`) is the right
    * cluster LABEL, but a real dedup pipeline keeps the best COPY — the
    * two differ whenever the lowest-id member is the worst one.
    *
    * The selection is one `max_by` aggregate over the cluster-joined
    * member set, ordered by `struct(quality, −doc_id)`: lexicographic
    * struct comparison maximizes quality first and breaks exact quality
    * ties toward the lowest doc_id, with no magnitude assumption on the
    * id domain (a packed scalar like `quality·1e12 − doc_id` would let a
    * >1e8 id gap override a real 1e-4 quality difference at
    * billions-of-docs id ranges). Deterministic in one pass; the oracle
    * states the same winner with a max-quality join + min-id tiebreak.
    * Cluster membership reuses the MEMOIZED q45 labels; the corpus
    * contributes one scan for the quality column
    * ([[graft.functions.TextFns.qualityScore]] — the same definition the
    * q58 funnel filters on).
    */
  def q82KeeperSelection(s: SparkSession, dir: String): DataFrame = {
    val labels = Dedup.componentLabels(s, dir)
      .select(col("doc"), col("comp"))
    val scored = documents(s, dir).select(col("doc_id"), col("text"))
      .withColumn("quality", qualityScore(col("text")))
      .select(col("doc_id"), col("quality"))
    labels.join(scored, col("doc") === col("doc_id"))
      .groupBy(col("comp"))
      .agg(
        count(lit(1)).as("cluster_size"),
        max_by(col("doc"), struct(col("quality"), -col("doc"))).as("keeper"),
        round(max(col("quality")), 4).as("max_quality"),
        round(min(col("quality")), 4).as("min_quality"))
      .orderBy(col("comp"))
  }

  val q82Sql: String =
    s"""WITH RECURSIVE ${Dedup.sqlComponentsCtes},
       |qd AS (
       |  SELECT doc_id, ${wordsSql("text")} AS ww, text
       |  FROM documents),
       |qs AS (
       |  SELECT doc_id, ${qualitySqlExpr("ww", "text")} AS quality
       |  FROM qd),
       |m AS (
       |  SELECT comp, labels.doc AS doc, quality
       |  FROM labels JOIN qs ON labels.doc = qs.doc_id),
       |agg AS (
       |  SELECT comp, CAST(count(*) AS BIGINT) AS cluster_size,
       |   max(quality) AS mq,
       |   ROUND(max(quality), 4) AS max_quality,
       |   ROUND(min(quality), 4) AS min_quality
       |  FROM m GROUP BY comp),
       |k AS (
       |  SELECT m.comp, min(m.doc) AS keeper
       |  FROM m JOIN agg ON m.comp = agg.comp AND m.quality = agg.mq
       |  GROUP BY m.comp)
       |SELECT agg.comp AS comp, cluster_size, keeper, max_quality, min_quality
       |FROM agg JOIN k ON agg.comp = k.comp ORDER BY comp""".stripMargin

  /** Block width (words) for passage-block dedup — non-overlapping, so a
    * document of n words yields ⌈n/W⌉ blocks (the trailing block may be
    * shorter).
    */
  val BlockW: Int = 8

  /** q83: passage-block deduplication with document reconstruction — the
    * MassiveText/RefinedWeb-style span removal that q69 only *reports*:
    * split every document into non-overlapping [[BlockW]]-word blocks,
    * keep exactly the FIRST occurrence of each distinct block corpus-wide
    * (ordered by (doc_id, pos) — repeats within one document drop too),
    * and reassemble each document from its surviving blocks in original
    * order. Output: per document, the block count, the kept count, and
    * the cleaned text. Documents that lose every block stay in the report
    * with `clean_text = ''` — a downstream filter decides their fate, not
    * this operator.
    *
    * Scale shape: the explode is n/W rows per document (W× cheaper than
    * the q69/q22 overlapping-shingle streams); first-occurrence selection
    * is one `min(struct(doc_id, pos))` hash aggregate with map-side
    * partials, so the exchange carries distinct blocks per partition, not
    * occurrences; the keep decision rejoins occurrences to winners keyed
    * on the block (many-to-one — a viral boilerplate block skews one key,
    * which AQE's skew-join split absorbs; at 100 TB you'd key both sides
    * on `hash60(blk)` and carry the string only to the exact verify).
    * Reconstruction is a per-document `collect_list` bounded by document
    * length — per-key state, never a global window or sort.
    */
  def q83PassageDedup(s: SparkSession, dir: String): DataFrame = {
    val withWs = resplit(documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), words(col("text")).as("ww"))
    val nBlocks = ceil(size(col("ww")).cast("double") / BlockW).cast("long")
    // Materialized (r19-opt): blocks feeds BOTH the first-occurrence
    // aggregate and the keep join below, and Spark does not CSE across
    // the two consumers — the tokenize + block-slice explode ran twice
    // per query. The frame is n/W rows per document (the text itself,
    // re-chunked), the standard multi-consumer checkpoint tradeoff.
    val blocks = withWs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0L), nBlocks - 1),
        i => array_join(slice(col("ww"), (i * BlockW + 1).cast("int"), lit(BlockW)), " ")))
        .as(Seq("pos", "blk")))
      .localCheckpoint(true)
    val firsts = blocks.groupBy(col("blk"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
      .select(col("blk").as("f_blk"),
        col("first.doc_id").as("kdoc"), col("first.pos").as("kpos"))
    val kept = blocks.join(firsts,
      col("blk") === col("f_blk") && col("doc_id") === col("kdoc")
        && col("pos") === col("kpos"))
      .select(col("doc_id"), col("pos"), col("blk"))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("blk")))),
          x => x.getField("blk")), " ").as("clean_text"))
    withWs.select(col("doc_id"), nBlocks.as("n_blocks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_blocks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  val q83Sql: String =
    s"""WITH w AS (
       |  SELECT doc_id, ${wordsSql("text")} AS ww FROM documents),
       |b AS (
       |  SELECT doc_id, unnest(list_transform(
       |    range(0, CAST(ceil(len(ww) / $BlockW.0) AS BIGINT)),
       |    i -> struct_pack(pos := i,
       |           blk := array_to_string(ww[i*$BlockW+1 : i*$BlockW+$BlockW], ' ')))) AS u
       |  FROM w),
       |occ AS (
       |  SELECT doc_id, u.pos AS pos, u.blk AS blk,
       |   row_number() OVER (PARTITION BY u.blk ORDER BY doc_id, u.pos) AS rn
       |  FROM b),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |   string_agg(blk, ' ' ORDER BY pos) AS clean_text
       |  FROM occ WHERE rn = 1 GROUP BY doc_id)
       |SELECT w.doc_id, CAST(ceil(len(ww) / $BlockW.0) AS BIGINT) AS n_blocks,
       | COALESCE(n_kept, CAST(0 AS BIGINT)) AS n_kept,
       | COALESCE(clean_text, '') AS clean_text
       |FROM w LEFT JOIN agg ON w.doc_id = agg.doc_id
       |ORDER BY w.doc_id""".stripMargin

  /** Per-source keep threshold for q88: a document survives if at least
    * [[KeepPct]] of its own source scores at or below it.
    */
  val KeepPct: Double = 0.2

  /** q88: per-source quality calibration — each document's quality ECDF
    * within its own source, and the keep decision against a percentile
    * fence. A global quality threshold (q58) systematically biases the
    * mixture toward whichever source scores high on the shared scale;
    * calibrating per source first is the standard correction (filter each
    * source against itself, then mix).
    *
    * Scale design — deliberately NOT `percent_rank().over(source)`: with
    * a handful of sources that window puts an entire source's documents
    * into one task (the q50 scale-killer class, partitioned edition).
    * Instead it exploits the quality score's 4dp value domain: aggregate
    * to (source, quality) counts — at most sources × 10⁴ rows — run the
    * cumulative sum on THAT frame (the window input is bounded by the
    * value domain, not the corpus), and broadcast the ECDF table back
    * onto the scan. `keep` decides on the raw ratio of two longs (exact
    * in both engines); `ecdf` is rounded for presentation only.
    */
  def q88QualityCalibration(s: SparkSession, dir: String): DataFrame = {
    val scored = resplit(documents(s, dir).select(col("doc_id"), col("source"), col("text")))
      .select(col("doc_id"), col("source"), qualityScore(col("text")).as("quality"))
    val counts = scored.groupBy(col("source"), col("quality"))
      .agg(count(lit(1)).as("k"))
    val wCum = Window.partitionBy(col("source")).orderBy(col("quality"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ecdf = counts
      .withColumn("cum_leq", sum(col("k")).over(wCum))
      .withColumn("n_src", sum(col("k")).over(Window.partitionBy(col("source"))))
      .select(col("source"), col("quality"), col("cum_leq"), col("n_src"))
    val raw = col("cum_leq").cast("double") / col("n_src").cast("double")
    scored.join(broadcast(ecdf), Seq("source", "quality"))
      .select(col("doc_id"), col("source"), col("quality"),
        round(raw, 6).as("ecdf"), (raw >= KeepPct).as("keep"))
      .orderBy(col("doc_id"))
  }

  val q88Sql: String =
    s"""WITH qd AS (
       |  SELECT doc_id, source, ${wordsSql("text")} AS ww, text
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id, source, ${qualitySqlExpr("ww", "text")} AS quality FROM qd),
       |c AS (
       |  SELECT source, quality, CAST(count(*) AS BIGINT) AS k
       |  FROM sc GROUP BY source, quality),
       |e AS (
       |  SELECT source, quality,
       |   CAST(sum(k) OVER (PARTITION BY source ORDER BY quality
       |     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_leq,
       |   CAST(sum(k) OVER (PARTITION BY source) AS BIGINT) AS n_src
       |  FROM c)
       |SELECT doc_id, sc.source AS source, sc.quality AS quality,
       | ROUND(CAST(cum_leq AS DOUBLE) / n_src, 6) AS ecdf,
       | CAST(cum_leq AS DOUBLE) / n_src >= $KeepPct AS keep
       |FROM sc JOIN e ON sc.source = e.source AND sc.quality = e.quality
       |ORDER BY doc_id""".stripMargin

  /** q93: dedup-effective corpus size — per language, the raw document
    * and token counts versus what survives near-dup deduplication under
    * the q82 keeper policy (best copy per cluster, singletons untouched),
    * and the token fraction dedup saves. This is the "what did dedup buy
    * us" planning number that decides whether the q23/q67 pipelines pay
    * for themselves on a given corpus — and it's per-language because
    * duplication rates differ wildly across languages in web crawls.
    *
    * Scale shape: cluster labels are MEMOIZED from q45 (pair-graph-sized,
    * ≪ corpus) and the q82 keeper selection reuses its exact max_by
    * expression, so the two operators can never disagree on who survives.
    * The non-keeper id set rides a broadcast left-anti mark onto ONE
    * corpus scan; per-language totals are a low-cardinality hash
    * aggregate with map-side partials.
    */
  def q93EffectiveCorpus(s: SparkSession, dir: String): DataFrame = {
    val labels = Dedup.componentLabels(s, dir).select(col("doc"), col("comp"))
    val scored = documents(s, dir).select(col("doc_id"), col("text"))
      .withColumn("quality", qualityScore(col("text")))
      .select(col("doc_id"), col("quality"))
    val keepers = labels.join(scored, col("doc") === col("doc_id"))
      .groupBy(col("comp"))
      .agg(max_by(col("doc"), struct(col("quality"), -col("doc"))).as("keeper"))
      .select(col("keeper"))
    val dropped = labels.select(col("doc"))
      .join(keepers, col("doc") === col("keeper"), "left_anti")
      .withColumnRenamed("doc", "drop_id")
    resplit(documents(s, dir).select(col("doc_id"), col("lang"), col("text")))
      .select(col("doc_id"), col("lang"), size(words(col("text"))).cast("long").as("n_tok"))
      .join(broadcast(dropped), col("doc_id") === col("drop_id"), "left")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(when(col("drop_id").isNull, lit(1L)).otherwise(lit(0L))).as("n_docs_kept"),
        sum(when(col("drop_id").isNull, col("n_tok")).otherwise(lit(0L))).as("n_tokens_kept"))
      .withColumn("savings_frac", round(lit(1.0)
        - col("n_tokens_kept").cast("double") / col("n_tokens").cast("double"), 6))
      .orderBy(col("lang"))
  }

  val q93Sql: String =
    s"""WITH RECURSIVE ${Dedup.sqlComponentsCtes},
       |qd AS (
       |  SELECT doc_id, lang, ${wordsSql("text")} AS ww, text
       |  FROM documents),
       |qs AS (
       |  SELECT doc_id, ${qualitySqlExpr("ww", "text")} AS quality FROM qd),
       |m AS (
       |  SELECT comp, labels.doc AS doc, quality
       |  FROM labels JOIN qs ON labels.doc = qs.doc_id),
       |mx AS (SELECT comp, max(quality) AS mq FROM m GROUP BY comp),
       |k AS (
       |  SELECT m.comp, min(m.doc) AS keeper
       |  FROM m JOIN mx ON m.comp = mx.comp AND m.quality = mx.mq
       |  GROUP BY m.comp),
       |dropped AS (
       |  SELECT doc FROM labels WHERE doc NOT IN (SELECT keeper FROM k)),
       |t AS (
       |  SELECT doc_id, lang, CAST(len(ww) AS BIGINT) AS n_tok FROM qd)
       |SELECT lang,
       | CAST(count(*) AS BIGINT) AS n_docs,
       | CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       | CAST(sum(CASE WHEN d.doc IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
       | CAST(sum(CASE WHEN d.doc IS NULL THEN n_tok ELSE 0 END) AS BIGINT) AS n_tokens_kept,
       | ROUND(1.0 - CAST(sum(CASE WHEN d.doc IS NULL THEN n_tok ELSE 0 END) AS DOUBLE)
       |   / sum(n_tok), 6) AS savings_frac
       |FROM t LEFT JOIN dropped d ON t.doc_id = d.doc
       |GROUP BY lang ORDER BY lang""".stripMargin

  /** q94: dedup decision audit — the per-document drop ledger behind
    * q82's per-cluster summary: for every document dedup REMOVES, the
    * cluster it belonged to, the keeper that displaced it, both quality
    * scores, and the margin. This is the governance artifact ("why was
    * my document removed, and was the call close?") that a production
    * dedup pipeline must be able to produce on demand; near-zero margins
    * are the rows a human reviews when contesting the policy.
    *
    * Scale shape: pure composition of memoized, pair-graph-sized frames —
    * cluster labels (q45) joined to one quality column, the q82 keeper
    * aggregate, and a broadcast join of the two; the corpus contributes
    * only the quality scan shared with q82/q93. No new exchange shapes.
    */
  def q94DedupAudit(s: SparkSession, dir: String): DataFrame = {
    val labels = Dedup.componentLabels(s, dir).select(col("doc"), col("comp"))
    val scored = documents(s, dir).select(col("doc_id"), col("text"))
      .withColumn("quality", qualityScore(col("text")))
      .select(col("doc_id"), col("quality"))
    val members = labels.join(scored, col("doc") === col("doc_id"))
      .select(col("comp"), col("doc"), col("quality"))
    val keepers = members.groupBy(col("comp"))
      .agg(max_by(col("doc"), struct(col("quality"), -col("doc"))).as("keeper"),
        max(col("quality")).as("keeper_quality"))
    members.join(broadcast(keepers), Seq("comp"))
      .filter(col("doc") =!= col("keeper"))
      .select(col("doc"), col("comp"), col("keeper"),
        col("quality").as("doc_quality"), col("keeper_quality"),
        round(col("keeper_quality") - col("quality"), 4).as("margin"))
      .orderBy(col("doc"))
  }

  val q94Sql: String =
    s"""WITH RECURSIVE ${Dedup.sqlComponentsCtes},
       |qd AS (
       |  SELECT doc_id, ${wordsSql("text")} AS ww, text
       |  FROM documents),
       |qs AS (
       |  SELECT doc_id, ${qualitySqlExpr("ww", "text")} AS quality FROM qd),
       |m AS (
       |  SELECT comp, labels.doc AS doc, quality
       |  FROM labels JOIN qs ON labels.doc = qs.doc_id),
       |mx AS (SELECT comp, max(quality) AS keeper_quality FROM m GROUP BY comp),
       |k AS (
       |  SELECT m.comp, min(m.doc) AS keeper
       |  FROM m JOIN mx ON m.comp = mx.comp AND m.quality = mx.keeper_quality
       |  GROUP BY m.comp)
       |SELECT m.doc AS doc, m.comp AS comp, keeper,
       | m.quality AS doc_quality, keeper_quality,
       | ROUND(keeper_quality - m.quality, 4) AS margin
       |FROM m JOIN k ON m.comp = k.comp JOIN mx ON m.comp = mx.comp
       |WHERE m.doc <> keeper
       |ORDER BY doc""".stripMargin

  /** Exemplars reported per source by q98. */
  val ExemplarK: Int = 3

  /** q98: per-source quality exemplars — the [[ExemplarK]] highest-quality
    * documents of every source, ranked. The report a curator reads first
    * when auditing an unfamiliar source ("show me its best"), and the
    * positive complement of q94's drop ledger.
    *
    * Scale shape: grouped top-k WITHOUT a window — `row_number() OVER
    * (PARTITION BY source)` would shuffle and sort the whole corpus, with
    * each hot source landing on one task; the
    * [[graft.functions.TopKPairs]] bounded-heap aggregate (the q25/q65
    * machinery on a third domain) keeps k candidates per source map-side,
    * so the exchange carries ≤ k·partitions rows per source regardless of
    * corpus size. The (score DESC, id ASC) heap order is total, so the
    * output is row-identical to the window formulation the oracle uses.
    */
  def q98QualityExemplars(s: SparkSession, dir: String): DataFrame = {
    val scored = resplit(documents(s, dir).select(col("doc_id"), col("source"), col("text")))
      .select(col("doc_id"), col("source"), qualityScore(col("text")).as("quality"))
    scored.groupBy(col("source"))
      .agg(graft.functions.TopKPairs.topKPairs(col("quality"), col("doc_id"), ExemplarK)
        .as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("source"), (col("pos") + 1).cast("long").as("rnk"),
        col("t.id").as("doc_id"), col("t.score").as("quality"))
      .orderBy(col("source"), col("rnk"))
  }

  val q98Sql: String =
    s"""WITH qd AS (
       |  SELECT doc_id, source, ${wordsSql("text")} AS ww, text
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id, source, ${qualitySqlExpr("ww", "text")} AS quality FROM qd),
       |r AS (
       |  SELECT source, doc_id, quality,
       |   CAST(row_number() OVER (PARTITION BY source
       |     ORDER BY quality DESC, doc_id) AS BIGINT) AS rnk
       |  FROM sc)
       |SELECT source, rnk, doc_id, quality FROM r WHERE rnk <= $ExemplarK
       |ORDER BY source, rnk""".stripMargin

  /** q99: holdout-split drift audit — for every language and every
    * source, its share of the training split versus the eval split
    * (q60/q66/q70's `doc_id % 10` holdout convention) and the absolute
    * drift between them. A holdout whose composition drifts from the
    * training distribution measures the wrong corpus; this is the
    * representativeness check run BEFORE trusting any decontamination or
    * eval number built on the split.
    *
    * Scale shape: one scan, two low-cardinality conditional-sum
    * aggregates (per language, per source) unioned into a (dim, value)
    * report, and the 1-row split totals broadcast back. Shares are exact
    * integer ratios, so the drift column is deterministic before its
    * presentation rounding.
    */
  def q99SplitDrift(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"))
      .withColumn("is_eval", col("doc_id") % 10 === 0)
    def byDim(name: String, c: Column): DataFrame = d.groupBy(c.as("value"))
      .agg(sum(when(col("is_eval"), lit(0L)).otherwise(lit(1L))).as("n_train"),
        sum(when(col("is_eval"), lit(1L)).otherwise(lit(0L))).as("n_eval"))
      .select(lit(name).as("dim"), col("value"), col("n_train"), col("n_eval"))
    val u = byDim("lang", col("lang")).unionByName(byDim("source", col("source")))
    val tot = d.agg(
      sum(when(col("is_eval"), lit(0L)).otherwise(lit(1L))).as("t_train"),
      sum(when(col("is_eval"), lit(1L)).otherwise(lit(0L))).as("t_eval"))
    val trShare = col("n_train").cast("double") / col("t_train").cast("double")
    val evShare = col("n_eval").cast("double") / col("t_eval").cast("double")
    u.crossJoin(broadcast(tot))
      .select(col("dim"), col("value"), col("n_train"), col("n_eval"),
        round(trShare, 6).as("train_share"), round(evShare, 6).as("eval_share"),
        round(abs(trShare - evShare), 6).as("drift"))
      .orderBy(col("dim"), col("value"))
  }

  val q99Sql: String =
    """WITH d AS (
      |  SELECT doc_id, lang, source, doc_id % 10 = 0 AS is_eval FROM documents),
      |u AS (
      |  SELECT 'lang' AS dim, lang AS value,
      |   CAST(sum(CASE WHEN is_eval THEN 0 ELSE 1 END) AS BIGINT) AS n_train,
      |   CAST(sum(CASE WHEN is_eval THEN 1 ELSE 0 END) AS BIGINT) AS n_eval
      |  FROM d GROUP BY lang
      |  UNION ALL
      |  SELECT 'source', source,
      |   CAST(sum(CASE WHEN is_eval THEN 0 ELSE 1 END) AS BIGINT),
      |   CAST(sum(CASE WHEN is_eval THEN 1 ELSE 0 END) AS BIGINT)
      |  FROM d GROUP BY source),
      |t AS (
      |  SELECT CAST(sum(CASE WHEN is_eval THEN 0 ELSE 1 END) AS BIGINT) AS t_train,
      |   CAST(sum(CASE WHEN is_eval THEN 1 ELSE 0 END) AS BIGINT) AS t_eval
      |  FROM d)
      |SELECT dim, value, n_train, n_eval,
      | ROUND(CAST(n_train AS DOUBLE) / t_train, 6) AS train_share,
      | ROUND(CAST(n_eval AS DOUBLE) / t_eval, 6) AS eval_share,
      | ROUND(abs(CAST(n_train AS DOUBLE) / t_train
      |   - CAST(n_eval AS DOUBLE) / t_eval), 6) AS drift
      |FROM u CROSS JOIN t ORDER BY dim, value""".stripMargin

  /** Quality cutoffs swept by q116. */
  val SweepThresholds: Seq[Double] = (1 to 9).map(_ / 10.0)

  /** q116: quality-filter threshold sweep — the operating-curve table a
    * curation pipeline reads before committing to a quality cutoff. For
    * each candidate threshold τ: how much of the corpus survives
    * (`kept_frac`), what fraction of the KNOWN-BAD proxy population
    * (near-dup cluster members, the q45 labels) leaks through
    * (`dup_leak`), and how contaminated the kept set is
    * (`dup_rate_kept`). Sweeping thresholds against a proxy label is the
    * standard way to pick a filter point without human labels; the dup
    * graph is the proxy every corpus already has.
    *
    * Scale shape: quality + dup flag ride ONE corpus scan (the dup side
    * is an id-keyed join against the memoized q45 labels); the sweep
    * explodes each row against the 9-threshold literal array and
    * hash-aggregates to 9 rows with map-side partials — corpus × 9 rows
    * into partials, 9 out. Rate denominators are conditional on
    * emptiness (a threshold that keeps nothing reports NULL rates, not a
    * division blow-up) — in both engines.
    */
  def q116FilterSweep(s: SparkSession, dir: String): DataFrame = {
    val scored = resplit(documents(s, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), qualityScore(col("text")).as("quality"))
    val dups = Dedup.componentLabels(s, dir)
      .select(col("doc").as("doc_id"), lit(1L).as("dup_flag"))
    val flagged = scored.join(dups, Seq("doc_id"), "left")
      .select(col("quality"), coalesce(col("dup_flag"), lit(0L)).as("is_dup"))
    flagged
      .select(col("quality"), col("is_dup"),
        explode(array(SweepThresholds.map(lit): _*)).as("tau"))
      .groupBy(col("tau"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("is_dup")).as("n_dup"),
        sum(when(col("quality") >= col("tau"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("quality") >= col("tau"), col("is_dup")).otherwise(0L))
          .as("n_dup_kept"))
      .select(col("tau"), col("n_kept"),
        round(col("n_kept").cast("double") / col("n_docs").cast("double"), 6)
          .as("kept_frac"),
        col("n_dup_kept"),
        when(col("n_dup") > 0,
          round(col("n_dup_kept").cast("double") / col("n_dup").cast("double"), 6))
          .as("dup_leak"),
        when(col("n_kept") > 0,
          round(col("n_dup_kept").cast("double") / col("n_kept").cast("double"), 6))
          .as("dup_rate_kept"))
      .orderBy(col("tau"))
  }

  val q116Sql: String = {
    val taus = SweepThresholds.mkString("[", ", ", "]")
    s"""WITH RECURSIVE ${Dedup.sqlComponentsCtes},
       |qd AS (
       |  SELECT doc_id, ${wordsSql("text")} AS ww, text
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id, ${qualitySqlExpr("ww", "text")} AS quality FROM qd),
       |fl AS (
       |  SELECT quality,
       |   CASE WHEN l.doc IS NOT NULL THEN 1 ELSE 0 END AS is_dup
       |  FROM sc LEFT JOIN (SELECT DISTINCT doc FROM labels) l ON sc.doc_id = l.doc),
       |ex AS (SELECT quality, is_dup, unnest($taus) AS tau FROM fl),
       |a AS (
       |  SELECT tau, CAST(count(*) AS BIGINT) AS n_docs,
       |   CAST(sum(is_dup) AS BIGINT) AS n_dup,
       |   CAST(sum(CASE WHEN quality >= tau THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |   CAST(sum(CASE WHEN quality >= tau THEN is_dup ELSE 0 END) AS BIGINT) AS n_dup_kept
       |  FROM ex GROUP BY tau)
       |SELECT tau, n_kept,
       | ROUND(CAST(n_kept AS DOUBLE) / n_docs, 6) AS kept_frac,
       | n_dup_kept,
       | CASE WHEN n_dup > 0
       |   THEN ROUND(CAST(n_dup_kept AS DOUBLE) / n_dup, 6) END AS dup_leak,
       | CASE WHEN n_kept > 0
       |   THEN ROUND(CAST(n_dup_kept AS DOUBLE) / n_kept, 6) END AS dup_rate_kept
       |FROM a ORDER BY tau""".stripMargin
  }

  // ---------------------------------------------------------------- q125

  /** Per-source token budget as a fraction of the source's own token
    * mass. A fraction (not an absolute count) keeps the operator
    * meaningful at every sf and models the real knob: "keep the best X%
    * of each source's tokens". */
  val BudgetFrac: Double = 0.5

  /** q125: token-budget-capped corpus selection — greedily fill each
    * source's token budget with its best documents. This is the final
    * gate of a training-data pipeline: the mixture (q49) fixes source
    * PROPORTIONS, the quality score (q18/q88) ranks documents, and this
    * operator converts both into the actual kept set under a token
    * budget — documents are admitted best-quality-first until their
    * source's cumulative token count crosses [[BudgetFrac]] of its mass
    * (the greedy knapsack that budget-capped corpus construction
    * actually runs; ties broken by doc_id for a total, replayable
    * order).
    *
    * Scale shape: one corpus scan computes tokens + quality map-side;
    * the running total is ONE source-partitioned window (the q88
    * discipline — never a global sort), and the per-source mass rides
    * the same partitioning as an unordered window aggregate, so both
    * windows share a single shuffle. Emitting the keep DECISION (not a
    * filtered corpus) keeps the operator auditable — q58's funnel rule.
    */
  def q125BudgetSelect(s: SparkSession, dir: String): DataFrame = {
    val scored = resplit(documents(s, dir).select(col("doc_id"), col("source"), col("text")))
      .select(col("doc_id"), col("source"),
        size(words(col("text"))).cast("long").as("n_tok"),
        qualityScore(col("text")).as("quality"))
    val wSel = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("source"))
    scored.select(col("doc_id"), col("source"), col("n_tok"), col("quality"),
        sum(col("n_tok")).over(wSel).as("cum_tok"),
        sum(col("n_tok")).over(wTot).as("tot_tok"))
      .select(col("doc_id"), col("source"), col("n_tok"), col("quality"),
        col("cum_tok"),
        (col("cum_tok").cast("double")
          <= col("tot_tok").cast("double") * BudgetFrac).as("keep"))
      .orderBy(col("doc_id"))
  }

  val q125Sql: String =
    s"""WITH qd AS (
       |  SELECT doc_id, source, ${wordsSql("text")} AS ww, text
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id, source, CAST(len(ww) AS BIGINT) AS n_tok,
       |   ${qualitySqlExpr("ww", "text")} AS quality
       |  FROM qd),
       |c AS (
       |  SELECT doc_id, source, n_tok, quality,
       |   CAST(sum(n_tok) OVER (PARTITION BY source
       |     ORDER BY quality DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok,
       |   CAST(sum(n_tok) OVER (PARTITION BY source) AS BIGINT) AS tot_tok
       |  FROM sc)
       |SELECT doc_id, source, n_tok, quality, cum_tok,
       | CAST(cum_tok AS DOUBLE) <= CAST(tot_tok AS DOUBLE) * $BudgetFrac AS keep
       |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q136

  /** Candidate max-sequence-lengths swept by q136 (the fixture corpus
    * averages ~50 whitespace tokens per document, so the grid straddles
    * the truncation/padding trade-off from both sides).
    */
  val PadLens: Seq[Int] = Seq(32, 64, 128, 256)

  /** q136: sequence-length / PADDING-efficiency sweep — the accounting
    * pass behind choosing a training max_seq_len. For every candidate
    * length L, each document contributes min(n_tok, L) kept tokens,
    * L − min(n_tok, L) padding (a padded batch burns compute on every
    * pad position), and max(n_tok − L, 0) truncated tokens (lost data).
    * The sweep emits, per L: kept/pad/truncated totals, the batch FILL
    * fraction kept/(docs·L) (what fraction of a padded batch is real
    * signal), and the truncation fraction (what share of the corpus the
    * cutoff throws away) — the two curves whose crossing picks L. The
    * same sweep-as-one-pass shape as q116's filter threshold sweep:
    * token counts are computed ONCE per document, a bounded explode
    * (|PadLens| rows per doc) fans the grid out map-side, and one hash
    * aggregate keyed by the candidate L (4 groups) does all the
    * accounting — never |PadLens| scans of the corpus.
    */
  def q136PadSweep(s: SparkSession, dir: String): DataFrame = {
    val swept = documents(s, dir)
      .select(size(words(col("text"))).cast("long").as("n_tok"))
      .select(col("n_tok"),
        explode(array(PadLens.map(l => lit(l)): _*)).as("max_len"))
    swept.groupBy(col("max_len"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(least(col("n_tok"), col("max_len"))).as("kept_tokens"),
        sum(col("max_len") - least(col("n_tok"), col("max_len"))).as("pad_tokens"),
        sum(greatest(col("n_tok") - col("max_len"), lit(0L))).as("truncated_tokens"))
      .withColumn("fill_frac",
        round(col("kept_tokens").cast("double")
          / (col("n_docs") * col("max_len")), 6))
      .withColumn("trunc_frac",
        round(col("truncated_tokens").cast("double")
          / (col("kept_tokens") + col("truncated_tokens")), 6))
      .orderBy(col("max_len"))
  }

  val q136Sql: String = {
    val lens = PadLens.mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT CAST(len(${wordsSql("text")}) AS BIGINT) AS n_tok
       |  FROM documents),
       |l AS (SELECT UNNEST($lens) AS max_len)
       |SELECT CAST(max_len AS INT) AS max_len, CAST(count(*) AS BIGINT) AS n_docs,
       | CAST(SUM(LEAST(n_tok, max_len)) AS BIGINT) AS kept_tokens,
       | CAST(SUM(max_len - LEAST(n_tok, max_len)) AS BIGINT) AS pad_tokens,
       | CAST(SUM(GREATEST(n_tok - max_len, 0)) AS BIGINT) AS truncated_tokens,
       | ROUND(CAST(SUM(LEAST(n_tok, max_len)) AS DOUBLE) / (count(*) * max_len), 6) AS fill_frac,
       | ROUND(CAST(SUM(GREATEST(n_tok - max_len, 0)) AS DOUBLE) / SUM(n_tok), 6) AS trunc_frac
       |FROM t CROSS JOIN l GROUP BY max_len ORDER BY max_len""".stripMargin
  }

  // ---------------------------------------------------------------- q147

  /** Epsilon floor for empty-bin shares in q147's PSI (the standard
    * guard: ln(p/q) must stay finite when a bin empties out).
    */
  val PsiEps: Double = 1e-6

  /** q147: POPULATION STABILITY INDEX — the model-monitoring drift
    * metric for a NUMERIC feature, complementing q99's categorical share
    * drift. The reference period (events at or before
    * [[Temporal.DiffCutoff]]) defines decile bins from its own exact
    * percentiles; both periods then histogram into those FIXED bins, and
    * each bin contributes (p−q)·ln(p/q) — the familiar thresholds read
    * the total: <0.1 stable, 0.1–0.25 drifting, >0.25 shifted. Binning
    * by the reference's quantiles (not fixed widths) is what makes PSI
    * scale-free and is exactly the part a naive histogram diff gets
    * wrong.
    *
    * Scale shape: one 1-row percentile aggregate over the reference
    * (q38's per-group exact percentile; q55's sketch for huge data)
    * BROADCASTS into a single map-side bin assignment over ONE events
    * scan (bin = 1 + Σ indicator(value > p_i) — branch-free, codegen);
    * a (side, bin) hash aggregate reduces to ≤20 rows, checkpointed so
    * the share/total consumers below re-aggregate a 20-row frame, never
    * the scan. Bin-boundary comparisons are cross-engine safe: any
    * interpolated decile lies within its two adjacent sorted data
    * values, so last-ulp formula differences can never flip a `value >
    * boundary` outcome.
    */
  def q147PsiDrift(s: SparkSession, dir: String): DataFrame = {
    val cut = lit(Temporal.DiffCutoff).cast("timestamp")
    val ev = events(s, dir).select(col("ts"), col("value"))
    val pctAggs = (1 to 9).map(i => expr(s"percentile(value, 0.${i}D)").as(s"p$i"))
    val bounds = ev.filter(col("ts") <= cut).agg(pctAggs.head, pctAggs.tail: _*)
    val binExpr = (1 to 9).map(i =>
      when(col("value") > col(s"p$i"), 1).otherwise(0)).reduce(_ + _) + lit(1)
    val counts = ev
      .select(when(col("ts") <= cut, "ref").otherwise("cur").as("side"), col("value"))
      .crossJoin(broadcast(bounds))
      .select(col("side"), binExpr.as("bin"))
      .groupBy(col("side"), col("bin")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // ≤20 rows; 3 consumers below re-aggregate it
    // An EMPTY period must degrade deterministically, not divergently: the
    // pivot yields NULL for a missing side (→ NULL shares under division,
    // which greatest() would silently floor to eps on Spark while an
    // oracle dividing by a 0 count goes inf/NaN). Coalesce the totals to 0
    // and gate each share on total > 0 — an empty side's shares become an
    // explicit 0 → eps floor, identically in both engines.
    val totals = counts.groupBy(col("side")).agg(sum(col("n")).as("t"))
      .groupBy().pivot("side", Seq("ref", "cur")).agg(first(col("t")))
      .select(coalesce(col("ref"), lit(0L)).as("t_ref"),
        coalesce(col("cur"), lit(0L)).as("t_cur"))
    val refC = counts.filter(col("side") === "ref")
      .select(col("bin"), col("n").as("n_ref"))
    val curC = counts.filter(col("side") === "cur")
      .select(col("bin").as("c_bin"), col("n").as("n_cur"))
    val p = greatest(when(col("t_ref") > 0,
      coalesce(col("n_ref"), lit(0L)).cast("double") / col("t_ref"))
      .otherwise(lit(0.0)), lit(PsiEps))
    val q = greatest(when(col("t_cur") > 0,
      coalesce(col("n_cur"), lit(0L)).cast("double") / col("t_cur"))
      .otherwise(lit(0.0)), lit(PsiEps))
    refC.join(curC, col("bin") === col("c_bin"), "full_outer")
      .crossJoin(broadcast(totals))
      .select(
        coalesce(col("bin"), col("c_bin")).as("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"),
        round(p, 6).as("ref_share"),
        round(q, 6).as("cur_share"),
        round((p - q) * log(p / q), 6).as("psi_contrib"))
      .orderBy(col("bin"))
  }

  val q147Sql: String = {
    val cut = s"TIMESTAMP '${Temporal.DiffCutoff}'"
    val quantiles = (1 to 9).map(i => s"quantile_cont(value, 0.$i) AS p$i").mkString(", ")
    val binSql = (1 to 9).map(i => s"(CASE WHEN value > p$i THEN 1 ELSE 0 END)")
      .mkString("1 + ", " + ", "")
    s"""WITH b AS (SELECT $quantiles FROM events WHERE ts <= $cut),
       |binned AS (
       |  SELECT CASE WHEN ts <= $cut THEN 'ref' ELSE 'cur' END AS side,
       |   $binSql AS bin
       |  FROM events CROSS JOIN b),
       |c AS (SELECT side, CAST(bin AS INT) AS bin, CAST(count(*) AS BIGINT) AS n
       |      FROM binned GROUP BY 1, 2),
       |tt AS (SELECT
       |  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE ts <= $cut) AS t_ref,
       |  (SELECT CAST(count(*) AS BIGINT) FROM events WHERE ts > $cut) AS t_cur),
       |j AS (
       |  SELECT COALESCE(r.bin, u.bin) AS bin,
       |   COALESCE(r.n, 0) AS n_ref, COALESCE(u.n, 0) AS n_cur
       |  FROM (SELECT bin, n FROM c WHERE side = 'ref') r
       |  FULL OUTER JOIN (SELECT bin, n FROM c WHERE side = 'cur') u
       |    ON r.bin = u.bin)
       |SELECT bin, n_ref, n_cur,
       | ROUND($sqlRefShare, 6) AS ref_share,
       | ROUND($sqlCurShare, 6) AS cur_share,
       | ROUND(($sqlRefShare - $sqlCurShare) * ln($sqlRefShare / $sqlCurShare), 6)
       |   AS psi_contrib
       |FROM j CROSS JOIN tt ORDER BY bin""".stripMargin
  }

  // Shares gated on a positive period total (empty period → explicit 0 →
  // eps floor), mirroring q147PsiDrift's degenerate-case handling exactly.
  private def sqlRefShare: String =
    s"GREATEST(CASE WHEN t_ref > 0 THEN CAST(n_ref AS DOUBLE) / t_ref ELSE 0 END, $PsiEps)"
  private def sqlCurShare: String =
    s"GREATEST(CASE WHEN t_cur > 0 THEN CAST(n_cur AS DOUBLE) / t_cur ELSE 0 END, $PsiEps)"

  // ---------------------------------------------------------------- q176

  /** Range buckets for the distributed skyline pass — the parallelism
    * knob: each bucket's window sees ~n/[[ParetoBuckets]] rows.
    */
  val ParetoBuckets: Int = 64

  /** q176: Pareto-frontier (skyline) curation selection — the documents
    * no other document dominates on (vocabulary richness ↑, length ↓):
    * keep doc d unless some d′ has vocab ≥ and n_chars ≤ with one strict.
    * This is the curation trade-off primitive (Börzsönyi et al. 2001,
    * "The Skyline Operator"): budgeted selection wants the efficient
    * frontier of quality-per-cost, not a single weighted score (q125's
    * knapsack picks a POINT; the skyline exposes the whole curve).
    *
    * Scale shape — the 2-D skyline decomposes by RANGE BUCKETS on the
    * minimized axis: within a bucket, "dominated by a strictly-shorter
    * doc" is a bucket-partitioned RANGE window (never an unpartitioned
    * whole-corpus sort); across buckets, every doc in a lower bucket is
    * strictly shorter, so the cross-bucket term is a prefix-max over the
    * [[ParetoBuckets]]-row per-bucket max table (a bounded self-join, no
    * window). Same-length dominance needs a strictly-richer doc — the
    * n_chars-partitioned max. Equal (vocab, n_chars) points dominate
    * neither way and all survive, in both engines.
    */
  def q176ParetoFrontier(s: SparkSession, dir: String): DataFrame = {
    val m = documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        size(array_distinct(words(col("text")))).cast("long").as("vocab"))
      .localCheckpoint(true) // read by the stats row and the bucketed pass
    val stats = m.agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi"))
    // (chars−lo)·B/(hi−lo+1): exact in doubles (numerator < 2^53, and the
    // floor can't flip — a non-integer true quotient sits ≥ 1/(hi−lo+1)
    // from the next integer, 7 orders above the division ulp); engine-only
    // anyway (the oracle runs the window form, bucketing is our partition
    // strategy, not a contract)
    val b = m.crossJoin(broadcast(stats))
      .withColumn("bucket", least(lit(ParetoBuckets - 1L),
        floor((col("n_chars") - col("lo")) * ParetoBuckets
          / (col("hi") - col("lo") + 1)).cast("long")))
    val shorterInBucket = Window.partitionBy(col("bucket"))
      .orderBy(col("n_chars").asc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val sameLen = Window.partitionBy(col("n_chars"))
    val w = b
      .withColumn("wmax", max(col("vocab")).over(shorterInBucket))
      .withColumn("emax", max(col("vocab")).over(sameLen))
    val bmax = b.groupBy(col("bucket")).agg(max(col("vocab")).as("bvmax"))
    val prefix = bmax.as("x")
      .join(bmax.as("y"), col("x.bucket") > col("y.bucket"))
      .groupBy(col("x.bucket").as("bucket")).agg(max(col("y.bvmax")).as("pbmax"))
    w.join(broadcast(prefix), Seq("bucket"), "left")
      .filter(col("vocab") === col("emax")
        && (col("wmax").isNull || col("vocab") > col("wmax"))
        && (col("pbmax").isNull || col("vocab") > col("pbmax")))
      .select(col("doc_id"), col("n_chars"), col("vocab"))
      .orderBy(col("n_chars"), col("doc_id"))
  }

  val q176Sql: String =
    s"""WITH m AS (
      |  SELECT doc_id, n_chars,
      |   CAST(len(list_distinct(${wordsSql("text")})) AS BIGINT) AS vocab
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, n_chars, vocab,
      |   max(vocab) OVER (ORDER BY n_chars
      |     RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax,
      |   max(vocab) OVER (PARTITION BY n_chars) AS emax
      |  FROM m)
      |SELECT doc_id, n_chars, vocab FROM w
      |WHERE vocab = emax AND (pmax IS NULL OR vocab > pmax)
      |ORDER BY n_chars, doc_id""".stripMargin

  // ---------------------------------------------------------------- q199

  /** PII pattern classes for the q199 detection/redaction audit. The
    * regexes are deliberately restricted to syntax Java regex and RE2
    * (DuckDB) evaluate identically — character classes, bounded repeats,
    * `\b` word boundaries; no backreferences or lookaround — so the
    * oracle runs the SAME patterns. Public-knowledge pattern shapes
    * (email address, NNN-NNNN-NNNN phone, NNN-NN-NNNN id number).
    */
  val PiiEmailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiPhoneRe: String = "\\b\\d{3}-\\d{4}-\\d{4}\\b"
  val PiiIdRe: String = "\\b\\d{3}-\\d{2}-\\d{4}\\b"

  /** The audited text column: the corpus text with a deterministic
    * PLANTED PII span per document (doc_id mod 4 picks the class; class 3
    * plants near-miss NEGATIVES — a TLD-less email and wrongly-grouped
    * digits — that must match nothing). The synthetic corpus carries no
    * real PII, so the audit's detection surface is seeded the same way
    * q197/q198 plant twins: both engines build the identical string, and
    * every count below is oracle-predicted. Shared by the engine
    * ([[piiAuditedCol]]) and rendered for DuckDB ([[piiAuditedSql]]) from
    * one snippet table.
    */
  private[queries] def piiAuditedCol: Column = {
    val id4 = lpad((col("doc_id") % 10000).cast("string"), 4, "0")
    val id2 = lpad((col("doc_id") % 100).cast("string"), 2, "0")
    concat(col("text"),
      when(col("doc_id") % 4 === 0,
        concat(lit(" contact u"), col("doc_id"), lit("@ex.com now")))
      .when(col("doc_id") % 4 === 1,
        concat(lit(" call 555-"), id4, lit("-0123 now")))
      .when(col("doc_id") % 4 === 2,
        concat(lit(" ref 042-"), id2, lit("-"), id4, lit(" now")))
      .otherwise(
        concat(lit(" ping u"), col("doc_id"), lit("@ex and 555-12-34 now"))))
  }

  private[queries] def piiAuditedSqlExpr: String =
    """text || CASE doc_id % 4
      |  WHEN 0 THEN ' contact u' || doc_id || '@ex.com now'
      |  WHEN 1 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-0123 now'
      |  WHEN 2 THEN ' ref 042-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now'
      |  ELSE ' ping u' || doc_id || '@ex and 555-12-34 now' END""".stripMargin
      .replace("\n", " ").replaceAll(" +", " ")

  /** q199: PII detection/redaction audit — the standard curation stage
    * the text family lacked (r16 verdict ask #3; q68 covers structured
    * k-anonymity only). Per source: how many documents and spans each
    * PII class hits, plus proof the REDACTION actually happened —
    * `residual_hits` recounts all three patterns over the redacted text
    * (a replacement that left a match behind shows up as a nonzero), and
    * `redacted_chars` pins the redacted output column's exact total
    * length, so the oracle verifies the rewritten text, not just the
    * counts.
    *
    * Plan shape: ONE map-only scan computes per-doc counts + the
    * redacted column (regexp_count / regexp_replace — codegen'd string
    * expressions, no UDF), then one source-keyed hash aggregate
    * (map-side partials). Linear at any corpus size; the 100 TB run is
    * the identical plan with the redacted column written back as a new
    * corpus snapshot instead of length-pinned.
    */
  def q199PiiAudit(s: SparkSession, dir: String): DataFrame = {
    val cnt = (c: Column, re: String) => regexp_count(c, lit(re)).cast("long")
    val audited = documents(s, dir)
      .select(col("doc_id"), col("source"), piiAuditedCol.as("t"))
      .withColumn("n_email", cnt(col("t"), PiiEmailRe))
      .withColumn("n_phone", cnt(col("t"), PiiPhoneRe))
      .withColumn("n_id", cnt(col("t"), PiiIdRe))
      .withColumn("red",
        regexp_replace(
          regexp_replace(
            regexp_replace(col("t"), PiiEmailRe, "[EMAIL]"),
            PiiPhoneRe, "[PHONE]"),
          PiiIdRe, "[ID]"))
    audited.groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_email") > 0, 1L).otherwise(0L)).as("email_docs"),
        sum(when(col("n_phone") > 0, 1L).otherwise(0L)).as("phone_docs"),
        sum(when(col("n_id") > 0, 1L).otherwise(0L)).as("id_docs"),
        sum(col("n_email")).as("email_hits"),
        sum(col("n_phone")).as("phone_hits"),
        sum(col("n_id")).as("id_hits"),
        sum(cnt(col("red"), PiiEmailRe) + cnt(col("red"), PiiPhoneRe)
          + cnt(col("red"), PiiIdRe)).as("residual_hits"),
        sum(length(col("red")).cast("long")).as("redacted_chars"))
      .orderBy(col("source"))
  }

  /** q199's oracle: identical patterns (Java-regex/RE2 common subset),
    * identical planted-span construction, DuckDB's regexp_extract_all
    * for counting and regexp_replace(…, 'g') for global redaction. */
  val q199Sql: String =
    s"""WITH a AS (
       |  SELECT doc_id, source, $piiAuditedSqlExpr AS t FROM documents),
       |c AS (
       |  SELECT source,
       |   CAST(len(regexp_extract_all(t, '$PiiEmailRe')) AS BIGINT) AS n_email,
       |   CAST(len(regexp_extract_all(t, '$PiiPhoneRe')) AS BIGINT) AS n_phone,
       |   CAST(len(regexp_extract_all(t, '$PiiIdRe')) AS BIGINT) AS n_id,
       |   regexp_replace(regexp_replace(regexp_replace(t,
       |     '$PiiEmailRe', '[EMAIL]', 'g'),
       |     '$PiiPhoneRe', '[PHONE]', 'g'),
       |     '$PiiIdRe', '[ID]', 'g') AS red
       |  FROM a)
       |SELECT source,
       | CAST(count(*) AS BIGINT) AS n_docs,
       | CAST(sum(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT) AS email_docs,
       | CAST(sum(CASE WHEN n_phone > 0 THEN 1 ELSE 0 END) AS BIGINT) AS phone_docs,
       | CAST(sum(CASE WHEN n_id > 0 THEN 1 ELSE 0 END) AS BIGINT) AS id_docs,
       | CAST(sum(n_email) AS BIGINT) AS email_hits,
       | CAST(sum(n_phone) AS BIGINT) AS phone_hits,
       | CAST(sum(n_id) AS BIGINT) AS id_hits,
       | CAST(sum(len(regexp_extract_all(red, '$PiiEmailRe'))
       |        + len(regexp_extract_all(red, '$PiiPhoneRe'))
       |        + len(regexp_extract_all(red, '$PiiIdRe'))) AS BIGINT) AS residual_hits,
       | CAST(sum(length(red)) AS BIGINT) AS redacted_chars
       |FROM c GROUP BY source ORDER BY source""".stripMargin
}
