package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.TextFns._
import graft.functions.HashConsts

/** Text-analysis operators over the `documents` table (SURVEY.md §2.4,
  * LLM-pipeline row): language-ID, quality scoring, token counting,
  * fingerprinting. All pure Catalyst expressions — per-row map-only plans
  * with no shuffle except the final presentation sort, so they scale
  * embarrassingly: at 100 TB each is a single pass over the scan with
  * whole-stage codegen.
  *
  * Oracle discipline: every formula is arithmetic both engines evaluate
  * identically (integer counts, one final double division rounded to a
  * fixed scale); marker word lists are rendered into the DuckDB SQL from
  * the same Scala constants used in the Spark plan.
  */
object TextOps {

  /** Stopword marker sets for the n-gram/stopword language-ID heuristic.
    * Deliberately tiny: the operator demonstrates the technique (profile
    * scoring + deterministic argmax); production sets would be larger.
    */
  val Markers: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "los", "de", "que"),
    "fr" -> Seq("le", "la", "les", "des", "et"),
  )
  private val langsAlpha = Markers.keys.toSeq.sorted // deterministic tiebreak order

  private def sqlList(xs: Seq[String]): String = xs.mkString("['", "', '", "']")

  /** Count of tokens contained in a marker list. */
  private def markerCount(ws: Column, markers: Seq[String]): Column =
    size(filter(ws, w => w.isin(markers: _*))).cast("long")

  /** q17: language identification. Scores each language profile by marker
    * hits, predicts the argmax (ties → alphabetically first; all-zero →
    * 'und').
    */
  def q17LangId(s: SparkSession, dir: String): DataFrame = {
    val ws = words(col("text"))
    val baseCols = Seq(col("doc_id"), col("lang").as("claimed_lang"),
      size(ws).cast("long").as("n_words")) ++
      langsAlpha.map(l => markerCount(ws, Markers(l)).as(s"s_$l"))
    val scored = documents(s, dir).select(baseCols: _*)
    val m = greatest(langsAlpha.map(l => col(s"s_$l")): _*)
    val pred = langsAlpha.foldRight(lit("und")) { (l, els) =>
      when(m > 0 && col(s"s_$l") === m, lit(l)).otherwise(els)
    }
    scored
      .withColumn("pred_lang", pred)
      .withColumn("marker_ratio",
        round(m.cast("double") / col("n_words").cast("double"), 6))
      .orderBy(col("doc_id"))
  }

  val q17Sql: String = {
    val scores = langsAlpha.map { l =>
      s"CAST(len(list_filter(w, x -> list_contains(${sqlList(Markers(l))}, x))) AS BIGINT) AS s_$l"
    }.mkString(",\n   ")
    val m = langsAlpha.map(l => s"s_$l").mkString("greatest(", ", ", ")")
    val pred = langsAlpha.map(l => s"WHEN $m > 0 AND s_$l = $m THEN '$l'").mkString(" ")
    s"""WITH t AS (
       |  SELECT doc_id, lang AS claimed_lang, ${wordsSql("text")} AS w
       |  FROM documents),
       |s AS (
       |  SELECT doc_id, claimed_lang, CAST(len(w) AS BIGINT) AS n_words,
       |   $scores
       |  FROM t)
       |SELECT doc_id, claimed_lang, n_words, s_de, s_en, s_es, s_fr,
       | CASE $pred ELSE 'und' END AS pred_lang,
       | ROUND(CAST($m AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS marker_ratio
       |FROM s ORDER BY doc_id""".stripMargin
  }

  /** Stopwords for the quality score (English-leaning; same caveat as
    * [[Markers]]).
    */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "is", "to", "in")

  /** q18: document quality scoring — length, punctuation, vocabulary, and
    * stopword signals folded into a bounded [0,1] composite. The composite
    * is a product of per-signal terms so one degenerate signal (all punct,
    * zero vocabulary) zeroes the score, which is the behavior curation
    * pipelines want for hard filtering.
    */
  def q18TextQuality(s: SparkSession, dir: String): DataFrame = {
    val ws = words(col("text"))
    documents(s, dir)
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("n_chars"),
        size(ws).cast("long").as("n_words"),
        size(array_distinct(ws)).cast("long").as("n_distinct"),
        aggregate(ws, lit(0L), (acc, w) => acc + length(w)).as("sum_word_len"),
        (length(col("text")) - length(regexp_replace(col("text"), "[^a-z0-9\\s]", "")))
          .cast("long").as("n_punct"),
        markerCount(ws, Stopwords).as("n_stop"))
      .withColumn("avg_word_len",
        round(col("sum_word_len").cast("double") / col("n_words"), 4))
      .withColumn("distinct_ratio",
        round(col("n_distinct").cast("double") / col("n_words"), 4))
      .withColumn("punct_ratio",
        round(col("n_punct").cast("double") / col("n_chars"), 4))
      .withColumn("stop_ratio",
        round(col("n_stop").cast("double") / col("n_words"), 4))
      // the shared composite (TextFns.qualityScore) — ONE definition across
      // q18/q58/q82; Catalyst CSEs the recomputed sub-terms against the
      // output columns above
      .withColumn("quality", qualityScore(col("text")))
      .drop("text")
      .orderBy(col("doc_id"))
  }

  val q18Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, text, ${wordsSql("text")} AS w
       |  FROM documents),
       |s AS (
       |  SELECT doc_id,
       |   CAST(length(text) AS BIGINT) AS n_chars,
       |   CAST(len(w) AS BIGINT) AS n_words,
       |   CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
       |   CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT) AS sum_word_len,
       |   CAST(length(text) - length(regexp_replace(text, '[^a-z0-9\\s]', '', 'g')) AS BIGINT) AS n_punct,
       |   CAST(len(list_filter(w, x -> list_contains(${sqlList(Stopwords)}, x))) AS BIGINT) AS n_stop,
       |   ${qualitySqlExpr("w", "text")} AS quality
       |  FROM t)
       |SELECT doc_id, n_chars, n_words, n_distinct, sum_word_len, n_punct, n_stop,
       | ROUND(CAST(sum_word_len AS DOUBLE) / n_words, 4) AS avg_word_len,
       | ROUND(CAST(n_distinct AS DOUBLE) / n_words, 4) AS distinct_ratio,
       | ROUND(CAST(n_punct AS DOUBLE) / n_chars, 4) AS punct_ratio,
       | ROUND(CAST(n_stop AS DOUBLE) / n_words, 4) AS stop_ratio,
       | quality
       |FROM s ORDER BY doc_id""".stripMargin

  /** q19: token counting — whitespace tokens plus a BPE-ish regex
    * tokenizer (letter runs | digit runs | single other non-space), the
    * standard pre-tokenization split used before byte-pair merging.
    */
  def q19TokenCount(s: SparkSession, dir: String): DataFrame = {
    val pat = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
    documents(s, dir)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(words(col("text"))).cast("long").as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long").as("re_tokens"))
      .withColumn("chars_per_token",
        round(col("n_chars").cast("double") / col("re_tokens"), 4))
      .orderBy(col("doc_id"))
  }

  val q19Sql: String =
    s"""SELECT doc_id,
      | CAST(length(text) AS BIGINT) AS n_chars,
      | CAST(len(${wordsSql("text")}) AS BIGINT) AS ws_tokens,
      | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS re_tokens,
      | ROUND(CAST(length(text) AS DOUBLE)
      |       / len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')), 4) AS chars_per_token
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q20: document fingerprinting — full-content md5, a 60-bit content
    * key, and an order-sensitive polynomial rolling hash over the token
    * stream (acc·31 + h(w) mod 2^40): equal only when the token sequences
    * are equal, unlike bag-of-words signatures.
    */
  def q20Fingerprint(s: SparkSession, dir: String): DataFrame = {
    val ws = words(col("text"))
    documents(s, dir)
      .select(col("doc_id"),
        md5(col("text")).as("md5_hex"),
        hash60(col("text")).as("content_key"),
        aggregate(ws, lit(0L),
          (acc, w) => (acc * 31L + hash60(w)) % HashConsts.RollMod).as("rolling_hash"))
      .orderBy(col("doc_id"))
  }

  val q20Sql: String =
    s"""SELECT doc_id, md5(text) AS md5_hex,
       | ${hash60Sql("text")} AS content_key,
       | list_reduce(
       |   list_prepend(CAST(0 AS BIGINT),
       |     list_transform(${wordsSql("text")},
       |       x -> ${hash60Sql("x")})),
       |   (a, b) -> (a * 31 + b) % ${HashConsts.RollMod}) AS rolling_hash
       |FROM documents ORDER BY doc_id""".stripMargin
}
