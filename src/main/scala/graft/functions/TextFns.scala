package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text/hash building blocks shared by the dedup, similarity, and
  * text-analysis operators (SURVEY.md §2.4 "LLM-pipeline" row).
  *
  * Everything here is a pure Catalyst expression (no UDFs) so it stays
  * inside whole-stage codegen, and every hash is derived from md5 — the one
  * cryptographic hash both Spark and DuckDB expose with identical output —
  * so each operator can ship an exact SQL oracle. Each kernel's DuckDB
  * rendering (`…Sql`) sits next to its Spark definition, and every oracle
  * in [[graft.queries]] spells the kernel through it; the shared numeric
  * constants live in [[HashConsts]] so the two sides can never drift.
  */
object TextFns {

  /** Whitespace tokenization. `trim` first so leading/trailing blanks don't
    * produce empty tokens (split semantics match DuckDB's, [[wordsSql]]).
    */
  def words(text: Column): Column = split(trim(text), "\\s+")

  /** DuckDB twin of [[words]] over the SQL expression `text`. */
  def wordsSql(text: String): String = s"regexp_split_to_array(trim($text), '\\s+')"

  /** Word-level n-gram shingles, space-joined, in document order (may
    * contain duplicates — pair with explode+distinct, which runs in the
    * codegen'd hash-aggregate path, rather than `array_distinct`, whose
    * interpreted O(k²) scan dominated profiles on long documents). Docs
    * shorter than `n` words get an empty array (guarded: Spark's
    * `sequence(1, 0)` would count *down*, not produce an empty range).
    */
  def shingles(ws: Column, n: Int): Column = {
    val raw = transform(
      sequence(lit(1), size(ws) - lit(n - 1)),
      i => array_join(slice(ws, i, lit(n)), " "))
    when(size(ws) >= n, raw).otherwise(array())
  }

  /** DuckDB twin of the distinct `n`-gram [[shingles]] per `key`: CTE
    * `name` of distinct (key, s) rows over CTE `from`, whose column `w`
    * holds [[wordsSql]] tokens. */
  def shingleSetSql(name: String, key: String, n: Int, from: String): String =
    s"""$name AS (
       |  SELECT DISTINCT $key, s FROM (
       |    SELECT $key, unnest(CASE WHEN len(w) >= $n
       |      THEN list_transform(range(1, len(w) - ${n - 2}),
       |             i -> array_to_string(w[i:i+${n - 1}], ' '))
       |      ELSE [] END) AS s
       |    FROM $from))""".stripMargin

  /** The composite document-quality score shared by q18 (scoring), q58
    * (funnel filter), and q82 (keeper selection): a product of a length
    * term (capped at 50 words), a punctuation-cleanliness term, and a
    * vocabulary-richness term, rounded to 4dp. ONE definition so the
    * filter, the report, and the keeper policy can never disagree on what
    * "quality" means. All factors are exact-integer ratios in IEEE
    * doubles; the 0.5 scalings are powers of two, so the result is
    * bit-identical to the DuckDB rendering in [[qualitySqlExpr]]
    * regardless of association order.
    */
  def qualityScore(text: Column): Column = {
    val ws = words(text)
    val nw = size(ws).cast("double")
    val nc = length(text).cast("double")
    val np = (length(text) - length(regexp_replace(text, "[^a-z0-9\\s]", "")))
      .cast("double")
    val nd = size(array_distinct(ws)).cast("double")
    round(least(nw / 50.0, lit(1.0)) * (lit(1.0) - np / nc)
      * (lit(0.5) + lit(0.5) * (nd / nw)), 4)
  }

  /** DuckDB rendering of [[qualityScore]]. `ww` names a
    * [[wordsSql]] column and `text` the raw
    * text column in the surrounding query. Single-line so it embeds safely
    * inside callers' stripMargin blocks.
    */
  def qualitySqlExpr(ww: String, text: String): String =
    s"ROUND(least(CAST(len($ww) AS DOUBLE) / 50.0, 1.0)" +
      s" * (1.0 - CAST(length($text) - length(regexp_replace($text, '[^a-z0-9\\s]', '', 'g')) AS DOUBLE) / length($text))" +
      s" * (0.5 + 0.5 * CAST(len(list_distinct($ww)) AS DOUBLE) / len($ww)), 4)"

  /** 60-bit positive hash: first 15 hex chars of md5, base-16 → long. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** DuckDB twin of [[hash60]] over the SQL expression `x`. */
  def hash60Sql(x: String): String = s"CAST(concat('0x', substr(md5($x), 1, 15)) AS BIGINT)"

  /** 32-bit positive hash (first 8 hex chars of md5). Small enough that
    * `a * hash32 + b` never overflows a signed 64-bit for the MinHash
    * constants in [[HashConsts]] — DuckDB raises on BIGINT overflow, so the
    * bound is load-bearing for oracle parity, not just hygiene.
    */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** DuckDB twin of [[hash32]] over the SQL expression `x`. */
  def hash32Sql(x: String): String = s"CAST(concat('0x', substr(md5($x), 1, 8)) AS BIGINT)"
}

/** Shared constants for the hash-family operators. Rendered into BOTH the
  * Spark expressions and the DuckDB oracle SQL from this single definition.
  */
object HashConsts {
  /** Prime modulus just above 2^32 for MinHash permutations. */
  val MinHashPrime: Long = 4294967311L

  /** MinHash permutation count (4 bands × 4 rows). */
  val MinHashK: Int = 16
  val MinHashBands: Int = 4
  val MinHashRowsPerBand: Int = MinHashK / MinHashBands

  /** Permutation coefficients h_j(x) = (a_j * x + b_j) mod p. Derived from
    * a fixed LCG so they're reproducible literals, bounded < 2^28 so
    * a_j * hash32 < 2^60 (no 64-bit overflow in either engine).
    */
  val MinHashA: Seq[Long] = (1 to MinHashK).map(j => (j * 2654435761L + 1L) % (1L << 28) | 1L)
  val MinHashB: Seq[Long] = (1 to MinHashK).map(j => (j * 40503L * 65537L + 17L) % MinHashPrime)

  /** SimHash signature width (bits) and banding for the hamming join. */
  val SimHashBits: Int = 48
  val SimHashBands: Int = 4
  val SimHashBandBits: Int = SimHashBits / SimHashBands
  val SimHashMaxHamming: Int = 3 // ≤ bands-1 ⇒ pigeonhole guarantees a matching band

  /** Occupancy-adaptive candidate-table geometry for the SimHash hamming
    * join — the Manku/Jain/Das Sarma WWW'07 block-permutation scheme. The
    * 48-bit signature is cut into `m` equal blocks; a pair at hamming ≤ 3
    * has its dirty bits inside ≤ 3 blocks, so for EVERY m ≥ 4 some
    * (m−3)-block subset is clean on both sides — keying one candidate
    * table per 3-block EXCLUSION (C(m,3) tables, each on the remaining
    * m−3 blocks = 48·(m−3)/m key bits) is a lossless candidate generator
    * at any m. Raising m widens the key (12 → 24 → 30 → 36 bits), so
    * uniform bucket occupancy n/2^keybits stays bounded as the corpus
    * grows: the fix for the measured r11 ×22 growth of the fixed 12-bit
    * geometry at 10× data, and the difference between quadratic and
    * near-linear candidate cost at 100 TB. The table count grows
    * combinatorially (4 → 20 → 56 → 220) but is a per-row explode factor,
    * not a join blow-up. m is chosen from the corpus row count at plan
    * time; the FINAL pair set (candidates ∩ hamming ≤ 3) is identical for
    * every valid geometry, so the oracle stays geometry-free.
    */
  val SimHashBlockChoices: Seq[Int] = Seq(4, 6, 8, 12)

  /** Target expected bucket occupancy (n / 2^keybits) the block choice
    * aims at under a uniform-signature assumption. */
  val SimHashTargetOcc: Long = 4L

  /** Key width of the m-block geometry: bits carried by the m−3 kept
    * blocks. */
  def simHashKeyBits(m: Int): Int = SimHashBits / m * (m - 3)

  /** Smallest block count whose key keeps expected occupancy ≤
    * [[SimHashTargetOcc]]; the widest ladder step beyond that. */
  def simHashBlocks(n: Long): Int =
    SimHashBlockChoices
      .find(m => (n >> simHashKeyBits(m)) <= SimHashTargetOcc)
      .getOrElse(SimHashBlockChoices.last)

  /** The C(m,3) candidate-table masks: table k keeps the signature bits
    * of all blocks OUTSIDE its excluded 3-block combination. */
  def simHashTableMasks(m: Int): Seq[Long] = {
    require(SimHashBits % m == 0 && m >= SimHashMaxHamming + 1,
      s"block count $m must divide $SimHashBits and exceed max hamming")
    val blockBits = SimHashBits / m
    val blockMask = (1L << blockBits) - 1
    val full = (1L << SimHashBits) - 1
    (0 until m).combinations(SimHashMaxHamming).map { excluded =>
      full ^ excluded.map(b => blockMask << (b * blockBits)).reduce(_ | _)
    }.toSeq
  }

  /** Rolling-hash modulus (2^40) for document fingerprinting: keeps
    * `acc * 31 + hash60` < 2^61, overflow-safe in both engines.
    */
  val RollMod: Long = 1L << 40
}
