package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.TextFns.{qualityScore, wordsSql}

/** Pre-text web-curation operators (r17 verdict ask #4) plus the
  * multimodal curation capstone (ask #5): the stage a C4/RefinedWeb-class
  * pipeline runs BEFORE any text model sees a byte — URL canonicalization
  * (tracking-param strip, case folding, fragment drop), registered-domain
  * extraction (public-suffix-aware), per-domain document caps with
  * domain-level quality stats — and the funnel that chains the shipped
  * PII/text/image/audio/video curation stages into one staged-count
  * report (the q100 idiom at the multimodal frontier).
  *
  * The corpus carries no URL column, so each document's raw URL is
  * synthesized deterministically from its id (the q199 planted-span
  * idiom): mixed-case schemes and hosts, www. and cdn. prefixes, four
  * TLDs including a two-level public suffix, unordered query strings
  * mixing real and tracking parameters, and optional fragments — every
  * mess the canonicalizer exists to clean, planted so the oracle can
  * predict the cleaned result exactly. The canonicalizer itself is a
  * GENERIC parser (regex scheme/host/path/query split + list filter and
  * sort) with no knowledge of the synthesis; only the regex subset both
  * Java regex and DuckDB's RE2 evaluate identically is used (the q199
  * contract).
  */
object WebCuration {

  // ---------------------------------------------------------------- q203

  /** TLD lane: doc_id % 4 picks one; index 2 is a two-level public
    * suffix so registered-domain extraction has a real case to get
    * wrong. */
  val UrlTlds: Seq[String] = Seq("com", "org", "co.uk", "net")

  /** Tracking parameters stripped by canonicalization (the public
    * C4/RefinedWeb hygiene list shape: analytics campaign tags and click
    * identifiers; `ref` is kept in the class because referral tags are
    * per-session, not per-resource). */
  val TrackingParamRe: String = "^(utm_[^=]*|fbclid|gclid|ref)="

  /** The synthesized raw URL (Spark side). Lanes, all by doc_id residue:
    * scheme https/http (%2), UPPERCASED scheme (%7=1), www. prefix
    * (%3=0), cdn. subdomain (%11=4), UPPERCASED host (%5=1), 13 names ×
    * 4 TLDs = 52 registered domains, path with trailing slash (%6=2),
    * query params in deliberately unsorted raw order — utm_source
    * (%2=0), id (%3≠1), page (%4=3), fbclid (%5=0), ref (%7=2) — and a
    * fragment (%8=5). */
  private def rawUrlCol: Column = {
    val scheme0 = when(col("doc_id") % 2 === 0, "https").otherwise("http")
    val scheme = when(col("doc_id") % 7 === 1, upper(scheme0)).otherwise(scheme0)
    val tld = element_at(
      array(UrlTlds.map(lit): _*), (col("doc_id") % 4 + 1).cast("int"))
    val host0 = concat(
      when(col("doc_id") % 3 === 0, "www.").otherwise(""),
      when(col("doc_id") % 11 === 4, "cdn.").otherwise(""),
      lit("ex"), col("doc_id") % 13, lit("."), tld)
    val host = when(col("doc_id") % 5 === 1, upper(host0)).otherwise(host0)
    val path = concat(lit("/p/"), col("doc_id") % 97,
      when(col("doc_id") % 6 === 2, "/").otherwise(""))
    val params = array(
      when(col("doc_id") % 2 === 0, concat(lit("utm_source=feed"), col("doc_id") % 3)),
      when(col("doc_id") % 3 =!= 1, concat(lit("id="), col("doc_id") % 19)),
      when(col("doc_id") % 4 === 3, concat(lit("page="), col("doc_id") % 7)),
      when(col("doc_id") % 5 === 0, concat(lit("fbclid=x"), col("doc_id") % 8)),
      when(col("doc_id") % 7 === 2, lit("ref=mail")))
    val query = array_join(filter(params, p => p.isNotNull), "&")
    val frag = when(col("doc_id") % 8 === 5, concat(lit("#s"), col("doc_id") % 3)).otherwise("")
    concat(scheme, lit("://"), host, path,
      when(length(query) > 0, concat(lit("?"), query)).otherwise(""), frag)
  }

  /** The identical synthesis rendered for DuckDB (one lane table, two
    * engines — drift in any residue breaks the hash compare). */
  private def rawUrlSqlExpr: String =
    """CASE WHEN doc_id % 7 = 1
      |  THEN upper(CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END)
      |  ELSE CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END END
      | || '://'
      | || CASE WHEN doc_id % 5 = 1 THEN upper(hh) ELSE hh END
      | || '/p/' || doc_id % 97 || CASE WHEN doc_id % 6 = 2 THEN '/' ELSE '' END
      | || CASE WHEN len(pp) > 0 THEN '?' || array_to_string(pp, '&') ELSE '' END
      | || CASE WHEN doc_id % 8 = 5 THEN '#s' || doc_id % 3 ELSE '' END""".stripMargin
      .replace("\n", " ").replaceAll(" +", " ")

  /** The hh/pp helper columns for [[rawUrlSqlExpr]] (host without case
    * fold, candidate param list in raw order with absent lanes NULL). */
  private def urlLanesSql: String =
    s"""SELECT doc_id,
       |  CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END
       |  || CASE WHEN doc_id % 11 = 4 THEN 'cdn.' ELSE '' END
       |  || 'ex' || doc_id % 13 || '.'
       |  || (['${UrlTlds.mkString("', '")}'])[CAST(doc_id % 4 + 1 AS INT)] AS hh,
       |  list_filter([
       |   CASE WHEN doc_id % 2 = 0 THEN 'utm_source=feed' || doc_id % 3 END,
       |   CASE WHEN doc_id % 3 <> 1 THEN 'id=' || doc_id % 19 END,
       |   CASE WHEN doc_id % 4 = 3 THEN 'page=' || doc_id % 7 END,
       |   CASE WHEN doc_id % 5 = 0 THEN 'fbclid=x' || doc_id % 8 END,
       |   CASE WHEN doc_id % 7 = 2 THEN 'ref=mail' END], p -> p IS NOT NULL) AS pp
       |FROM documents""".stripMargin

  /** Canonicalize ANY absolute http(s) URL column — generic, no
    * synthesis knowledge: drop the fragment, lowercase scheme and host,
    * strip a leading www., strip trailing slashes from the path, drop
    * tracking parameters ([[TrackingParamRe]]), and sort the surviving
    * query parameters so equivalent URLs serialize identically. Pure
    * codegen'd string expressions (regexp_extract / filter / array_sort)
    * — one map pass, no UDF. */
  private[graft] def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z]+)://", 1))
    val host = regexp_replace(
      lower(regexp_extract(noFrag, "^[A-Za-z]+://([^/?#]+)", 1)), "^www\\.", "")
    val path = regexp_replace(
      regexp_extract(noFrag, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1), "/+$", "")
    val query = regexp_extract(noFrag, "\\?([^#]*)", 1)
    val kept = array_join(
      array_sort(filter(split(query, "&"),
        p => !p.rlike(TrackingParamRe) && length(p) > 0)), "&")
    concat(scheme, lit("://"), host, path,
      when(length(kept) > 0, concat(lit("?"), kept)).otherwise(""))
  }

  /** DuckDB rendering of [[canonicalUrl]] over a url expression. */
  private def canonicalSqlExpr(u: String): String =
    s"""lower(regexp_extract(regexp_replace($u, '#.*$$', ''), '^([A-Za-z]+)://', 1))
       | || '://'
       | || regexp_replace(lower(regexp_extract($u, '^[A-Za-z]+://([^/?#]+)', 1)), '^www\\.', '')
       | || regexp_replace(regexp_extract(regexp_replace($u, '#.*$$', ''), '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), '/+$$', '')
       | || CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END""".stripMargin
      .replace("\n", " ").replaceAll(" +", " ")

  private def keptParamsSql(u: String): String =
    s"""list_sort(list_filter(
       | regexp_split_to_array(regexp_extract(regexp_replace($u, '#.*$$', ''), '\\?([^#]*)', 1), '&'),
       | p -> NOT regexp_matches(p, '$TrackingParamRe') AND len(p) > 0))""".stripMargin
      .replace("\n", " ").replaceAll(" +", " ")

  /** Registered domain of a lowercased host: last two labels, or last
    * three under a two-level public suffix (the co.uk class — a
    * public-suffix-list lookup reduced to the one suffix family the
    * fixture plants; the production form swaps in the full PSL table as
    * a broadcast join, same plan shape). */
  private[graft] def registeredDomain(host: Column): Column =
    when(host.rlike("\\.co\\.uk$"), regexp_extract(host, "([^.]+\\.co\\.uk)$", 1))
      .otherwise(regexp_extract(host, "([^.]+\\.[^.]+)$", 1))

  private def registeredDomainSql(h: String): String =
    s"""CASE WHEN regexp_matches($h, '\\.co\\.uk$$')
       | THEN regexp_extract($h, '([^.]+\\.co\\.uk)$$', 1)
       | ELSE regexp_extract($h, '([^.]+\\.[^.]+)$$', 1) END""".stripMargin
      .replace("\n", " ").replaceAll(" +", " ")

  /** The per-doc canonical frame shared by q203/q204: doc_id, raw_url,
    * canonical url, host, registered domain, and the tracking/fragment
    * audit flags. One map-only corpus pass. */
  private[graft] def canonFrame(s: SparkSession, dir: String): DataFrame = {
    val raw = documents(s, dir).select(col("doc_id"), rawUrlCol.as("raw_url"))
    val host = regexp_replace(
      lower(regexp_extract(col("raw_url"), "^[A-Za-z]+://([^/?#]+)", 1)), "^www\\.", "")
    raw.select(col("doc_id"), col("raw_url"),
      canonicalUrl(col("raw_url")).as("url"),
      registeredDomain(host).as("domain"),
      regexp_extract(col("raw_url"), "[?&](utm_[^=]*|fbclid|gclid|ref)=", 1)
        .=!=("").as("had_tracking"),
      col("raw_url").contains("#").as("had_fragment"))
  }

  /** q203: URL CANONICALIZATION + registered-domain extraction — the
    * first operator of the pre-text web-curation stage. Per document:
    * the raw URL, its canonical form, the registered domain, and what
    * the cleaner removed (tracking params / fragment). Map-only — one
    * scan, codegen'd string expressions, no shuffle at any corpus size;
    * at 100 TB this is the pass that rewrites the crawl manifest in
    * place. */
  def q203UrlCanonicalize(s: SparkSession, dir: String): DataFrame =
    canonFrame(s, dir).orderBy(col("doc_id"))

  val q203Sql: String = {
    val lanes = urlLanesSql.replace("\n", " ")
    s"""WITH lanes AS ($lanes),
       |raw AS (SELECT doc_id, $rawUrlSqlExpr AS raw_url FROM lanes),
       |k AS (SELECT doc_id, raw_url, ${keptParamsSql("raw_url")} AS kept FROM raw),
       |c AS (
       |  SELECT doc_id, raw_url, ${canonicalSqlExpr("raw_url")} AS url,
       |   regexp_replace(lower(regexp_extract(raw_url, '^[A-Za-z]+://([^/?#]+)', 1)), '^www\\.', '') AS host,
       |   regexp_matches(raw_url, '[?&](utm_[^=]*|fbclid|gclid|ref)=') AS had_tracking,
       |   contains(raw_url, '#') AS had_fragment
       |  FROM k)
       |SELECT doc_id, raw_url, url, ${registeredDomainSql("host")} AS domain,
       | had_tracking, had_fragment
       |FROM c ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q204

  /** Per-domain document cap (binds on the fixture's ~10-doc/domain
    * geometry, so the kept counts genuinely vary). */
  val DomainCap: Int = 8

  /** q204: PER-DOMAIN caps + domain-level quality stats — the
    * crawl-side concentration control (RefinedWeb-style): count each
    * registered domain's documents and distinct canonical URLs (same
    * canonical URL twice = a recrawl duplicate), cap every domain at
    * [[DomainCap]] documents chosen by a deterministic salted-hash
    * race (reproducible under retries, q47's property), and report the
    * domain's mean heuristic quality so downstream mixing can weight
    * domains, not just documents.
    *
    * Scale shape: one map-only canonical pass, one domain-keyed window
    * (partitioned — never a global sort) for the cap ranks, one
    * domain-keyed aggregate. Domains are the natural unit of skew here;
    * a pathological single-domain crawl is exactly what AQE skew-split
    * absorbs, and the cap itself bounds what survives. */
  def q204DomainCaps(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = documents(s, dir).select(col("doc_id"),
      qualityScore(col("text")).as("quality"))
    val ranked = canonFrame(s, dir)
      .join(q, Seq("doc_id"))
      .withColumn("u", TrainingData.uhash(col("doc_id"), "q204"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("domain")).orderBy(col("u"), col("doc_id"))))
    ranked.groupBy(col("domain"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("url")).as("n_urls"),
        (count(lit(1)) - countDistinct(col("url"))).as("n_dup_docs"),
        sum(when(col("rk") <= DomainCap, 1L).otherwise(0L)).as("n_kept"),
        // quality is on a 4dp grid by construction (qualityScore rounds),
        // so the mean goes through exact integer ten-thousandths — an
        // order-FREE aggregate (q146's integer-cents rework; r18 ADVICE):
        // avg(double) re-associates under parallel aggregation, and at
        // sf1 domain groups are large enough for summation-order noise
        // to sit near a 4dp rounding boundary on an unlucky corpus.
        round(sum(round(col("quality") * lit(10000)).cast("long")).cast("double")
          / (count(lit(1)).cast("double") * lit(10000.0)), 4).as("mean_quality"))
      .orderBy(col("domain"))
  }

  val q204Sql: String = {
    val lanes = urlLanesSql.replace("\n", " ")
    s"""WITH lanes AS ($lanes),
       |raw AS (SELECT doc_id, $rawUrlSqlExpr AS raw_url FROM lanes),
       |k AS (SELECT doc_id, raw_url, ${keptParamsSql("raw_url")} AS kept FROM raw),
       |c AS (
       |  SELECT doc_id, ${canonicalSqlExpr("raw_url")} AS url,
       |   regexp_replace(lower(regexp_extract(raw_url, '^[A-Za-z]+://([^/?#]+)', 1)), '^www\\.', '') AS host
       |  FROM k),
       |d AS (
       |  SELECT c.doc_id, url, ${registeredDomainSql("host")} AS domain,
       |   ${graft.functions.TextFns.qualitySqlExpr("ww", "text")} AS quality,
       |   ${TrainingData.uhashSql("c.doc_id", "q204")} AS u
       |  FROM c JOIN (SELECT doc_id, text, ${wordsSql("text")} AS ww
       |               FROM documents) t ON c.doc_id = t.doc_id),
       |r AS (
       |  SELECT domain, url, quality,
       |   row_number() OVER (PARTITION BY domain ORDER BY u, doc_id) AS rk
       |  FROM d)
       |SELECT domain,
       | CAST(count(*) AS BIGINT) AS n_docs,
       | CAST(count(DISTINCT url) AS BIGINT) AS n_urls,
       | CAST(count(*) - count(DISTINCT url) AS BIGINT) AS n_dup_docs,
       | CAST(sum(CASE WHEN rk <= $DomainCap THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       | ROUND(CAST(sum(CAST(round(quality * 10000) AS BIGINT)) AS DOUBLE)
       |   / (count(*) * 10000.0), 4) AS mean_quality
       |FROM r GROUP BY domain ORDER BY domain""".stripMargin
  }

  // ---------------------------------------------------------------- q205

  /** Flat sampling rate for the multimodal funnel's final stage. */
  val MmRate: Double = 0.5

  /** q205: the MULTIMODAL curation capstone — q100's funnel idiom
    * extended across every modality the engine curates, per source:
    *
    *   raw → text-deduped (q45's min-id component representative)
    *       → image-clean  (not the dropped side of a q197 dHash pair)
    *       → audio-clean  (not the dropped side of a q198 fingerprint pair)
    *       → video-clean  (not the dropped side of a q200 frame-vote pair)
    *       → sampled      (q47's salted-hash thresholding)
    *
    * plus `pii_docs`, the documents whose text carried PII before the
    * q199 redaction pass (redaction rewrites, it does not drop — the
    * column audits exposure, the stages gate retention). Drop rule per
    * near-dup pair: the larger doc id (doc_b) drops, the smaller
    * survives — the deterministic keep-first policy every pair family
    * here already verifies.
    *
    * Every stage reuses the EXACT shared machinery its standalone
    * operator hash-verifies (component labels memo, the banded
    * perceptual pair sets, the PII patterns, uhash), so the funnel
    * cannot drift from the operators it composes. Scale shape: three
    * pair-graph-sized drop sets (≪ corpus — broadcastable) and the
    * pair-graph-sized component labels attach to ONE corpus scan by id;
    * one source-keyed conditional-sum aggregate ends it. */
  def q205MultimodalFunnel(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val labels = Dedup.componentLabels(s, dir)
      .select(col("doc").as("l_doc"), col("comp"))
    def drops(pairs: DataFrame, name: String): DataFrame =
      pairs.select(col("doc_b").as(name)).distinct()
    // the memoized pair frames directly (r19-opt): same verified pair
    // sets the registered queries order — the funnel needs no sort
    val imgDrop = drops(MultimodalQ.imagePairs(s, dir), "img_doc")
    val audDrop = drops(MultimodalQ.audioPairs(s, dir), "aud_doc")
    val vidDrop = drops(MultimodalQ.videoPairs(s, dir), "vid_doc")
    val piiHits = regexp_count(col("t"), lit(Curation.PiiEmailRe)) +
      regexp_count(col("t"), lit(Curation.PiiPhoneRe)) +
      regexp_count(col("t"), lit(Curation.PiiIdRe))
    def cnt(c: Column, name: String): Column =
      sum(when(c, lit(1L)).otherwise(lit(0L))).as(name)
    d.select(col("doc_id"), col("source"), Curation.piiAuditedCol.as("t"))
      .withColumn("pii", piiHits > 0)
      .join(labels, col("doc_id") === col("l_doc"), "left")
      .join(broadcast(imgDrop), col("doc_id") === col("img_doc"), "left")
      .join(broadcast(audDrop), col("doc_id") === col("aud_doc"), "left")
      .join(broadcast(vidDrop), col("doc_id") === col("vid_doc"), "left")
      .withColumn("text_kept", col("comp").isNull || col("comp") === col("doc_id"))
      .withColumn("img_kept", col("img_doc").isNull)
      .withColumn("aud_kept", col("aud_doc").isNull)
      .withColumn("vid_kept", col("vid_doc").isNull)
      .withColumn("samp", TrainingData.uhash(col("doc_id"), "q205") < MmRate)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_raw"),
        cnt(col("pii"), "pii_docs"),
        cnt(col("text_kept"), "n_text_kept"),
        cnt(col("text_kept") && col("img_kept"), "n_img_kept"),
        cnt(col("text_kept") && col("img_kept") && col("aud_kept"), "n_aud_kept"),
        cnt(col("text_kept") && col("img_kept") && col("aud_kept")
          && col("vid_kept"), "n_vid_kept"),
        cnt(col("text_kept") && col("img_kept") && col("aud_kept")
          && col("vid_kept") && col("samp"), "n_sampled"))
      .orderBy(col("source"))
  }

  /** q205's oracle: the component-labels recursive block (shared with
    * q45/q100 — check.py's CTE cache applies), the three perceptual
    * pair queries embedded verbatim as drop-set subqueries (one
    * definition per family — the full per-operator oracles, reused),
    * the q199 planted-PII count, and the staged conditional sums. */
  val q205Sql: String =
    s"""WITH RECURSIVE ${Dedup.sqlComponentsCtes},
       |img_drop AS (SELECT DISTINCT doc_b FROM (${MultimodalQ.q197Sql})),
       |aud_drop AS (SELECT DISTINCT doc_b FROM (${MultimodalQ.q198Sql})),
       |vid_drop AS (SELECT DISTINCT doc_b FROM (${MultimodalQ.q200Sql})),
       |base AS (
       |  SELECT doc_id, source, ${Curation.piiAuditedSqlExpr} AS t
       |  FROM documents),
       |flags AS (
       |  SELECT b.doc_id, source,
       |   (len(regexp_extract_all(t, '${Curation.PiiEmailRe}'))
       |    + len(regexp_extract_all(t, '${Curation.PiiPhoneRe}'))
       |    + len(regexp_extract_all(t, '${Curation.PiiIdRe}'))) > 0 AS pii,
       |   (l.comp IS NULL OR l.comp = b.doc_id) AS text_kept,
       |   i.doc_b IS NULL AS img_kept,
       |   a.doc_b IS NULL AS aud_kept,
       |   v.doc_b IS NULL AS vid_kept,
       |   ${TrainingData.uhashSql("b.doc_id", "q205")} < $MmRate AS samp
       |  FROM base b
       |  LEFT JOIN labels l ON b.doc_id = l.doc
       |  LEFT JOIN img_drop i ON b.doc_id = i.doc_b
       |  LEFT JOIN aud_drop a ON b.doc_id = a.doc_b
       |  LEFT JOIN vid_drop v ON b.doc_id = v.doc_b)
       |SELECT source,
       | CAST(count(*) AS BIGINT) AS n_raw,
       | CAST(sum(CASE WHEN pii THEN 1 ELSE 0 END) AS BIGINT) AS pii_docs,
       | CAST(sum(CASE WHEN text_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_text_kept,
       | CAST(sum(CASE WHEN text_kept AND img_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_img_kept,
       | CAST(sum(CASE WHEN text_kept AND img_kept AND aud_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_aud_kept,
       | CAST(sum(CASE WHEN text_kept AND img_kept AND aud_kept AND vid_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_vid_kept,
       | CAST(sum(CASE WHEN text_kept AND img_kept AND aud_kept AND vid_kept AND samp THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
       |FROM flags GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- q209

  /** Stop-word list for the minimum-stop-word rule. Gopher's English
    * list is {the, be, to, of, and, that, have, with}; the corpus'
    * function words are {the, a}, so the configured list swaps Gopher's
    * head for the fixture's (the rule is generic, the LIST is per-corpus
    * config exactly as a language-specific deployment would set it). */
  val GopherStops: Seq[String] =
    Seq("the", "a", "and", "of", "to", "be", "that", "with")

  /** Minimum distinct stop words a keepable document must contain. */
  val GopherMinStops: Int = 2

  /** Planted noise blocks for the rule audit (the q199/q203 planted-lane
    * idiom: the corpus text is clean synthetic prose, so each rule's
    * failure mode is planted deterministically from doc_id and the oracle
    * renders the identical lanes). One constant set, two engines. */
  private[graft] val BulletBlock: String =
    (0 until 12).map(i => s"\n- pt$i").mkString
  private[graft] val EllipsisBlock: String = "\nread more...\nread more..."
  private[graft] val SymbolBlock: String = "\n# # # # # # # #"
  private[graft] val NumericBlock: String = "\n" + (0 until 12).mkString(" ")
  private[graft] val LongWordBlock: String =
    "\n" + Seq.fill(20)("x" * 25).mkString(" ")

  /** The noisy page: base text plus the doc_id-planted noise lanes
    * (bullet list %7=3, ellipsis teasers %9=2, symbol run %11=6,
    * numeric tokens %13=9, overlong words %17=4 — lanes overlap on
    * composite residues, so rule interactions are exercised too). */
  private[graft] def noisyPageCol: Column = concat(
    col("text"),
    when(col("doc_id") % 7 === 3, BulletBlock).otherwise(""),
    when(col("doc_id") % 9 === 2, EllipsisBlock).otherwise(""),
    when(col("doc_id") % 11 === 6, SymbolBlock).otherwise(""),
    when(col("doc_id") % 13 === 9, NumericBlock).otherwise(""),
    when(col("doc_id") % 17 === 4, LongWordBlock).otherwise(""))

  /** A DuckDB string literal for a block containing newlines (rendered
    * as chr(10) concatenations — DuckDB literals don't interpret \n). */
  private def sqlLit(s: String): String =
    "'" + s.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"

  private def noisyPageSqlExpr: String =
    s"""text
       | || CASE WHEN doc_id % 7 = 3 THEN ${sqlLit(BulletBlock)} ELSE '' END
       | || CASE WHEN doc_id % 9 = 2 THEN ${sqlLit(EllipsisBlock)} ELSE '' END
       | || CASE WHEN doc_id % 11 = 6 THEN ${sqlLit(SymbolBlock)} ELSE '' END
       | || CASE WHEN doc_id % 13 = 9 THEN ${sqlLit(NumericBlock)} ELSE '' END
       | || CASE WHEN doc_id % 17 = 4 THEN ${sqlLit(LongWordBlock)} ELSE '' END""".stripMargin
      .replace("\n", " ").replaceAll(" +", " ")

  /** The per-page rule flags, as a projection over a `page` column —
    * GENERIC (no synthesis knowledge): every Gopher A1 measurement is an
    * integer (word/line/char/occurrence counts) and every band check is
    * an INTEGER cross-multiplication (10·sym > nw instead of sym/nw >
    * 0.1), so there is no floating-point surface anywhere in the
    * operator and the oracle compare is exact by construction. */
  private[graft] def gopherFlags(page: Column): Seq[Column] = {
    val ws = graft.functions.TextFns.words(page)
    val lines = split(page, "\n")
    val nw = size(ws).cast("long")
    val nl = size(lines).cast("long")
    val nonws = length(regexp_replace(page, "\\s", "")).cast("long")
    val sym = (length(page) - length(regexp_replace(page, "#", ""))
      + regexp_count(page, lit("\\.\\.\\."))).cast("long")
    val bl = size(filter(lines, l => l.startsWith("- "))).cast("long")
    val el = size(filter(lines, l => l.endsWith("..."))).cast("long")
    val aw = size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("long")
    val sw = size(filter(array(GopherStops.map(lit): _*),
      t => array_contains(ws, t))).cast("long")
    Seq(
      (nw < 50L || nw > 100000L).as("trip_wc"),
      (nonws < nw * 3L || nonws > nw * 10L).as("trip_mwl"),
      (sym * 10L > nw).as("trip_sym"),
      (bl * 10L > nl * 9L).as("trip_bullet"),
      (el * 10L > nl * 3L).as("trip_ellipsis"),
      (aw * 5L < nw * 4L).as("trip_alpha"),
      (sw < GopherMinStops.toLong).as("trip_stop"))
  }

  /** q209: GOPHER-STYLE RULE-SET quality audit (Rae et al. 2021,
    * Appendix A1 — the rule battery MassiveWeb runs before any model
    * sees a byte), per source: how many documents trip each rule and
    * how many survive them all. The rules this corpus can express:
    * word-count band [50, 100k], mean-word-length band [3, 10],
    * symbol-to-word ratio ('#' + '…' ≤ 0.1/word), bullet-started lines
    * ≤ 90%, ellipsis-ended lines ≤ 30%, alphabetic-word fraction ≥ 0.8,
    * and ≥ 2 distinct stop words present.
    *
    * Unlike q18/q58's composite quality SCORE (a soft ranking signal),
    * this is the hard PASS/FAIL battery with per-rule attribution — the
    * artifact a curation run publishes so each rule's cost is visible
    * before it's enabled. Scale shape: map-only flag projection (pure
    * codegen'd string/array expressions, no UDF, no join) into one
    * source-keyed aggregate — the cheapest possible 100 TB pass, same
    * family as q203. All counting is exact integers; the band checks
    * are integer cross-multiplications, so both engines agree bit-wise.
    */
  def q209GopherRules(s: SparkSession, dir: String): DataFrame = {
    val flags = documents(s, dir)
      .select(col("source") +: gopherFlags(noisyPageCol): _*)
    def cnt(name: String): Column =
      sum(when(col(name), lit(1L)).otherwise(lit(0L))).as(name)
    val tripCols = Seq("trip_wc", "trip_mwl", "trip_sym", "trip_bullet",
      "trip_ellipsis", "trip_alpha", "trip_stop")
    val kept = sum(when(tripCols.map(col).reduce(_ || _), lit(0L))
      .otherwise(lit(1L))).as("n_kept")
    flags.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), tripCols.map(cnt) :+ kept: _*)
      .orderBy(col("source"))
  }

  val q209Sql: String = {
    val stops = GopherStops.mkString("'", "', '", "'")
    s"""WITH p AS (
       |  SELECT source, ${noisyPageSqlExpr} AS page FROM documents),
       |m AS (
       |  SELECT source,
       |   ${wordsSql("page")} AS ww,
       |   string_split(page, chr(10)) AS ll,
       |   CAST(length(regexp_replace(page, '\\s', '', 'g')) AS BIGINT) AS nonws,
       |   CAST(length(page) - length(replace(page, '#', ''))
       |     + len(regexp_extract_all(page, '\\.\\.\\.')) AS BIGINT) AS sym
       |  FROM p),
       |f AS (
       |  SELECT source,
       |   CAST(len(ww) AS BIGINT) AS nw,
       |   CAST(len(ll) AS BIGINT) AS nl,
       |   nonws, sym,
       |   CAST(len(list_filter(ll, l -> l LIKE '- %')) AS BIGINT) AS bl,
       |   CAST(len(list_filter(ll, l -> l LIKE '%...')) AS BIGINT) AS el,
       |   CAST(len(list_filter(ww, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS aw,
       |   CAST(len(list_filter([$stops], t -> list_contains(ww, t))) AS BIGINT) AS sw
       |  FROM m),
       |t AS (
       |  SELECT source,
       |   (nw < 50 OR nw > 100000) AS trip_wc,
       |   (nonws < nw * 3 OR nonws > nw * 10) AS trip_mwl,
       |   (sym * 10 > nw) AS trip_sym,
       |   (bl * 10 > nl * 9) AS trip_bullet,
       |   (el * 10 > nl * 3) AS trip_ellipsis,
       |   (aw * 5 < nw * 4) AS trip_alpha,
       |   (sw < $GopherMinStops) AS trip_stop
       |  FROM f)
       |SELECT source,
       | CAST(count(*) AS BIGINT) AS n_docs,
       | CAST(sum(CASE WHEN trip_wc THEN 1 ELSE 0 END) AS BIGINT) AS trip_wc,
       | CAST(sum(CASE WHEN trip_mwl THEN 1 ELSE 0 END) AS BIGINT) AS trip_mwl,
       | CAST(sum(CASE WHEN trip_sym THEN 1 ELSE 0 END) AS BIGINT) AS trip_sym,
       | CAST(sum(CASE WHEN trip_bullet THEN 1 ELSE 0 END) AS BIGINT) AS trip_bullet,
       | CAST(sum(CASE WHEN trip_ellipsis THEN 1 ELSE 0 END) AS BIGINT) AS trip_ellipsis,
       | CAST(sum(CASE WHEN trip_alpha THEN 1 ELSE 0 END) AS BIGINT) AS trip_alpha,
       | CAST(sum(CASE WHEN trip_stop THEN 1 ELSE 0 END) AS BIGINT) AS trip_stop,
       | CAST(sum(CASE WHEN NOT (trip_wc OR trip_mwl OR trip_sym OR trip_bullet
       |   OR trip_ellipsis OR trip_alpha OR trip_stop) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM t GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q210

  /** Planted repetition blocks (q209's planted-lane idiom, disjoint
    * residues): the synthetic prose is clean of LINE/PARAGRAPH-level
    * repetition, so each structural failure mode is planted from doc_id;
    * the n-gram rules additionally fire on the corpus' own templated
    * sentences, so the battery is load-bearing on natural text too. */
  private[graft] val DupLineBlock: String =
    "\nsubscribe to our newsletter today" * 4
  private[graft] val DupParaBlock: String =
    "\n\nshare this article with your friends" * 3
  private[graft] val Top2Block: String =
    "\n" + ("buy now " * 24).trim
  /** Single-line INLINE repetition: trips the dup-5-gram rule without
    * creating duplicate lines, keeping this lane disjoint from the line
    * rules. (The paragraph lane's line coupling, by contrast, is
    * faithful: a repeated paragraph IS repeated lines — which is why
    * Gopher publishes both rule families at different thresholds.) */
  private[graft] val Dup5Block: String =
    "\n" + ("click here to claim your exclusive reward before midnight tonight " * 2).trim

  /** The repetition-noisy page: base text plus doc_id-planted lanes
    * (dup lines %7=1, dup paragraphs %11=3, dominant 2-gram %13=5,
    * duplicated 5-grams %17=8 — residues disjoint from q209's, and the
    * moduli coprime with the source modulus so trips spread across all
    * sources). */
  private def repPageCol: Column = concat(
    col("text"),
    when(col("doc_id") % 7 === 1, DupLineBlock).otherwise(""),
    when(col("doc_id") % 11 === 3, DupParaBlock).otherwise(""),
    when(col("doc_id") % 13 === 5, Top2Block).otherwise(""),
    when(col("doc_id") % 17 === 8, Dup5Block).otherwise(""))

  private def repPageSqlExpr: String =
    s"""text
       | || CASE WHEN doc_id % 7 = 1 THEN ${sqlLit(DupLineBlock)} ELSE '' END
       | || CASE WHEN doc_id % 11 = 3 THEN ${sqlLit(DupParaBlock)} ELSE '' END
       | || CASE WHEN doc_id % 13 = 5 THEN ${sqlLit(Top2Block)} ELSE '' END
       | || CASE WHEN doc_id % 17 = 8 THEN ${sqlLit(Dup5Block)} ELSE '' END""".stripMargin
      .replace("\n", " ").replaceAll(" +", " ")

  /** Per-row repetition flags over an (id, key, page) frame — the shared
    * core of q210 and its spec's crafted-page tests. Line/paragraph
    * stats are PURE MAP-SIDE array expressions (lines per page are few,
    * so the per-distinct-line scan is O(lines²) on tiny arrays — no
    * shuffle); the n-gram stats explode ONE tagged (id, n, gram) stream
    * from a single scan into a map-side-combined count aggregate, a
    * per-id roll-up, and an id-keyed join back. Every shuffle is keyed
    * by id (or a superset), so the audit is embarrassingly
    * corpus-parallel — no cross-document state anywhere.
    *
    * Measurement contracts (both engines render the same definitions):
    * dup fractions count NON-FIRST occurrences (a line seen k times
    * contributes k−1); dup-line chars sum (k−1)·len over repeated lines
    * against total page length; "top n-gram chars" is max over grams of
    * count·len(gram) — "the n-gram occupying the most characters",
    * deterministic under count ties where argmax-by-count is not;
    * dup-5-gram chars sum count·len over grams seen ≥ 2 times (no
    * overlap discount — the standard published simplification) against
    * non-whitespace chars. */
  private[graft] def repFlagFrame(rows: DataFrame): DataFrame = {
    import graft.functions.TextFns
    // ONE id-keyed exchange of the RAW pages up front (r20-opt, guide
    // §2.3/§2.4): hash-partitioned by id, every downstream step — the
    // (id, n, gram) count, the per-id roll-up, and the lineStats ⋈
    // gramStats join — is clustering-satisfied by this partitioning, so
    // the gram stream (≈3× the page bytes, the widest frame here) never
    // crosses the wire at all. The r19 shape shuffled it twice (the
    // two-level aggregate) plus the join's lineStats side. Explicit
    // partition count so AQE's size-based coalescing cannot pack the
    // CPU-bound regex/split work onto a couple of cores (the q154
    // lesson); the count follows the cluster conf, not the fixture.
    val parted = rows.repartition(
      rows.sparkSession.sparkContext.defaultParallelism, col("id"))
    val base = parted.select(col("id"), col("key"), col("page"),
      split(col("page"), "\n").as("ll"),
      split(col("page"), "\n\n").as("pp"),
      TextFns.words(col("page")).as("ww"),
      length(col("page")).cast("long").as("pagel"),
      length(regexp_replace(col("page"), "\\s", "")).cast("long").as("nonws"))

    val lineStats = base.select(
      col("id"), col("key"), col("pagel"), col("nonws"),
      size(col("ll")).cast("long").as("nl"),
      (size(col("ll")) - size(array_distinct(col("ll")))).cast("long").as("dl"),
      coalesce(aggregate(array_distinct(col("ll")), lit(0L),
        (acc, d) => acc + (size(filter(col("ll"), x => x === d)) - lit(1))
          .cast("long") * length(d).cast("long")), lit(0L)).as("dlc"),
      size(col("pp")).cast("long").as("np"),
      (size(col("pp")) - size(array_distinct(col("pp")))).cast("long").as("dp"))

    def tag(n: Int): Column = transform(TextFns.shingles(col("ww"), n),
      g => struct(lit(n).as("n"), g.as("gram")))
    val gramStats = base
      .select(col("id"), explode(flatten(array(tag(2), tag(3), tag(5)))).as("t"))
      .groupBy(col("id"), col("t.n").as("n"), col("t.gram").as("gram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("id"))
      .agg(
        max(when(col("n") === 2, col("c") * length(col("gram")).cast("long"))
          .otherwise(lit(0L))).as("top2"),
        max(when(col("n") === 3, col("c") * length(col("gram")).cast("long"))
          .otherwise(lit(0L))).as("top3"),
        sum(when(col("n") === 5 && col("c") > 1,
          col("c") * length(col("gram")).cast("long"))
          .otherwise(lit(0L))).as("dup5"))

    lineStats.join(gramStats, Seq("id"), "left").select(
      col("key"),
      (col("dl") * 10L > col("nl") * 3L).as("trip_dupline"),
      (col("dlc") * 5L > col("pagel")).as("trip_dlchar"),
      (col("dp") * 10L > col("np") * 3L).as("trip_duppara"),
      (coalesce(col("top2"), lit(0L)) * 5L > col("nonws")).as("trip_top2"),
      (coalesce(col("top3"), lit(0L)) * 50L > col("nonws") * 9L).as("trip_top3"),
      (coalesce(col("dup5"), lit(0L)) * 20L > col("nonws") * 3L).as("trip_dup5"))
  }

  /** q210: GOPHER-STYLE REPETITION audit (Rae et al. 2021, Appendix A1's
    * repetition sub-battery — the rules MassiveWeb applies ALONGSIDE
    * q209's quality rules), per source: how many documents trip each
    * repetition rule and how many survive all of them. Implemented
    * subset spans all three published rule families, thresholds are
    * Gopher's, and every band check is an integer cross-multiplication
    * (hash-exact by construction, like q209):
    *
    *  - duplicate-LINE fraction > 0.30            (10·dl  > 3·nl)
    *  - duplicate-line CHARACTER fraction > 0.20  ( 5·dlc > pagel)
    *  - duplicate-PARAGRAPH fraction > 0.30       (10·dp  > 3·np)
    *  - top 2-gram character fraction > 0.20      ( 5·top2 > nonws)
    *  - top 3-gram character fraction > 0.18      (50·top3 > 9·nonws)
    *  - dup 5-gram character fraction > 0.15      (20·dup5 > 3·nonws)
    *
    * Unlike the planted line/paragraph lanes, the n-gram rules also fire
    * on the corpus' own templated prose — the battery is load-bearing on
    * natural text, exactly the regime q51's repetition stats report on.
    * Scale shape: see [[repFlagFrame]]; the roll-up adds one
    * source-keyed aggregate. */
  def q210RepetitionRules(s: SparkSession, dir: String): DataFrame = {
    val flags = repFlagFrame(documents(s, dir).select(
      col("doc_id").as("id"), col("source").as("key"), repPageCol.as("page")))
    def cnt(name: String): Column =
      sum(when(col(name), lit(1L)).otherwise(lit(0L))).as(name)
    val tripCols = Seq("trip_dupline", "trip_dlchar", "trip_duppara",
      "trip_top2", "trip_top3", "trip_dup5")
    val kept = sum(when(tripCols.map(col).reduce(_ || _), lit(0L))
      .otherwise(lit(1L))).as("n_kept")
    flags.withColumnRenamed("key", "source")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), tripCols.map(cnt) :+ kept: _*)
      .orderBy(col("source"))
  }

  val q210Sql: String = {
    def branch(n: Int): String =
      s"""  SELECT doc_id, $n AS n,
         |   unnest(list_transform(generate_series(1, len(ww) - $n + 1),
         |     i -> array_to_string(ww[i:i+$n-1], ' '))) AS gram
         |  FROM base WHERE len(ww) >= $n""".stripMargin
    s"""WITH p AS (
       |  SELECT doc_id, source, ${repPageSqlExpr} AS page FROM documents),
       |base AS (
       |  SELECT doc_id, source,
       |   string_split(page, chr(10)) AS ll,
       |   string_split(page, chr(10) || chr(10)) AS pp,
       |   ${wordsSql("page")} AS ww,
       |   CAST(length(page) AS BIGINT) AS pagel,
       |   CAST(length(regexp_replace(page, '\\s', '', 'g')) AS BIGINT) AS nonws
       |  FROM p),
       |linestats AS (
       |  SELECT doc_id, source, pagel, nonws,
       |   CAST(len(ll) AS BIGINT) AS nl,
       |   CAST(len(ll) - len(list_distinct(ll)) AS BIGINT) AS dl,
       |   CAST(coalesce(list_sum(list_transform(list_distinct(ll),
       |     d -> (len(list_filter(ll, x -> x = d)) - 1) * length(d))), 0) AS BIGINT) AS dlc,
       |   CAST(len(pp) AS BIGINT) AS np,
       |   CAST(len(pp) - len(list_distinct(pp)) AS BIGINT) AS dp
       |  FROM base),
       |gramrows AS (
       |${branch(2)}
       |  UNION ALL
       |${branch(3)}
       |  UNION ALL
       |${branch(5)}),
       |grams AS (
       |  SELECT doc_id, n, gram, count(*) AS c, CAST(length(gram) AS BIGINT) AS gc
       |  FROM gramrows GROUP BY doc_id, n, gram),
       |gstats AS (
       |  SELECT doc_id,
       |   max(CASE WHEN n = 2 THEN c * gc ELSE 0 END) AS top2,
       |   max(CASE WHEN n = 3 THEN c * gc ELSE 0 END) AS top3,
       |   sum(CASE WHEN n = 5 AND c > 1 THEN c * gc ELSE 0 END) AS dup5
       |  FROM grams GROUP BY doc_id),
       |f AS (
       |  SELECT ls.source,
       |   (dl * 10 > nl * 3) AS trip_dupline,
       |   (dlc * 5 > pagel) AS trip_dlchar,
       |   (dp * 10 > np * 3) AS trip_duppara,
       |   (coalesce(top2, 0) * 5 > nonws) AS trip_top2,
       |   (coalesce(top3, 0) * 50 > nonws * 9) AS trip_top3,
       |   (coalesce(dup5, 0) * 20 > nonws * 3) AS trip_dup5
       |  FROM linestats ls LEFT JOIN gstats g USING (doc_id))
       |SELECT source,
       | CAST(count(*) AS BIGINT) AS n_docs,
       | CAST(sum(CASE WHEN trip_dupline THEN 1 ELSE 0 END) AS BIGINT) AS trip_dupline,
       | CAST(sum(CASE WHEN trip_dlchar THEN 1 ELSE 0 END) AS BIGINT) AS trip_dlchar,
       | CAST(sum(CASE WHEN trip_duppara THEN 1 ELSE 0 END) AS BIGINT) AS trip_duppara,
       | CAST(sum(CASE WHEN trip_top2 THEN 1 ELSE 0 END) AS BIGINT) AS trip_top2,
       | CAST(sum(CASE WHEN trip_top3 THEN 1 ELSE 0 END) AS BIGINT) AS trip_top3,
       | CAST(sum(CASE WHEN trip_dup5 THEN 1 ELSE 0 END) AS BIGINT) AS trip_dup5,
       | CAST(sum(CASE WHEN NOT (trip_dupline OR trip_dlchar OR trip_duppara
       |   OR trip_top2 OR trip_top3 OR trip_dup5) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
       |FROM f GROUP BY source ORDER BY source""".stripMargin
  }

  // ---------------------------------------------------------------- q211

  /** The line-keep predicate of the q211 cleaning transform — GENERIC
    * (no synthesis knowledge), the C4/Gopher line-level recipe: drop
    * bullet-started lines, ellipsis-ended teasers, stub lines under 3
    * words, and lines where fewer than half the words contain a letter
    * (symbol runs, numeric tables). The majority check is an integer
    * cross-multiplication (2·aw ≥ nw) — no floating point. */
  private[graft] def lineKeep(l: Column): Column = {
    val ws = split(trim(l), "\\s+")
    !l.startsWith("- ") && !l.endsWith("...") &&
      size(ws) >= 3 &&
      size(filter(ws, w => w.rlike("[A-Za-z]"))) * 2 >= size(ws)
  }

  /** The cleaned page: kept lines re-joined. Exposed for the spec's
    * idempotence pin (cleaning a cleaned page is the identity). */
  private[graft] def cleanedPage(page: Column): Column =
    array_join(filter(split(page, "\n"), lineKeep _), "\n")

  /** q211: C4/GOPHER-STYLE LINE-CLEANING transform report — the REMOVAL
    * counterpart of q209/q210's audits (the reference pipelines do not
    * just flag boilerplate lines, they delete them and keep the page):
    * per source, documents touched, lines in/kept, chars in/kept, over
    * the SAME q209 noise lanes (q211 cleans exactly what q209 audits —
    * one synthesis, two operators). The rules are the public C4 line
    * filters this corpus can express: bullet starts, ellipsis ends,
    * < 3 words, non-alphabetic-majority words. All counts exact
    * integers — hash-exact by construction.
    *
    * Scale shape: the keep predicate and the re-join are pure map-side
    * array expressions (codegen'd HOFs, no UDF, no join, no per-line
    * explode) into one source-keyed aggregate — q209's cheapest-possible
    * 100 TB pass. The transform itself ([[cleanedPage]]) is the
    * production operator; the report is its audit artifact. */
  def q211LineClean(s: SparkSession, dir: String): DataFrame = {
    val base = documents(s, dir).select(col("source"),
      noisyPageCol.as("page"))
      .select(col("source"), col("page"),
        size(split(col("page"), "\n")).cast("long").as("nl"),
        filter(split(col("page"), "\n"), lineKeep _).as("kept"))
      .select(col("source"),
        col("nl"), size(col("kept")).cast("long").as("nk"),
        length(col("page")).cast("long").as("ci"),
        length(array_join(col("kept"), "\n")).cast("long").as("ck"))
    base.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("nk") < col("nl"), lit(1L)).otherwise(lit(0L))).as("n_changed"),
      sum(col("nl")).as("lines_in"),
      sum(col("nk")).as("lines_kept"),
      sum(col("ci")).as("chars_in"),
      sum(col("ck")).as("chars_kept"))
      .orderBy(col("source"))
  }

  val q211Sql: String = {
    val keep =
      s"""l -> NOT (l LIKE '- %') AND NOT (l LIKE '%...')
        |    AND len(${wordsSql("l")}) >= 3
        |    AND 2 * len(list_filter(${wordsSql("l")},
        |          w -> regexp_matches(w, '[A-Za-z]')))
        |        >= len(${wordsSql("l")})""".stripMargin
    s"""WITH p AS (
       |  SELECT doc_id, source, ${noisyPageSqlExpr} AS page FROM documents),
       |c AS (
       |  SELECT source, page,
       |   string_split(page, chr(10)) AS ll,
       |   list_filter(string_split(page, chr(10)), $keep) AS kept
       |  FROM p),
       |m AS (
       |  SELECT source,
       |   CAST(len(ll) AS BIGINT) AS nl,
       |   CAST(len(kept) AS BIGINT) AS nk,
       |   CAST(length(page) AS BIGINT) AS ci,
       |   CAST(length(array_to_string(kept, chr(10))) AS BIGINT) AS ck
       |  FROM c)
       |SELECT source,
       | CAST(count(*) AS BIGINT) AS n_docs,
       | CAST(sum(CASE WHEN nk < nl THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       | CAST(sum(nl) AS BIGINT) AS lines_in,
       | CAST(sum(nk) AS BIGINT) AS lines_kept,
       | CAST(sum(ci) AS BIGINT) AS chars_in,
       | CAST(sum(ck) AS BIGINT) AS chars_kept
       |FROM m GROUP BY source ORDER BY source""".stripMargin
  }
}
