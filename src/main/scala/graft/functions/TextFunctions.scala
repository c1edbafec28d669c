package graft.functions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, BPE-ish token counting.
  *
  * Everything here composes `org.apache.spark.sql.functions` (including
  * higher-order array functions), so it all stays inside whole-stage codegen
  * — no UDF boxing on the 100 TB path. The reference engine has no function
  * surface at all (README.md:73-75); this module is north-star scope.
  */
object TextFunctions {

  // The engine's codegen'd expressions as Columns, one constructor each
  // (see the expression classes). Built directly, not looked up by name,
  // so operators run on any session and leave its function registry as
  // they found it; GraftFunctions.Table is the SQL-text surface.
  private def unary(c: Column)(f: Expression => Expression): Column =
    GraftSqlBridge.column(f(GraftSqlBridge.expression(c)))
  def md5Prefix60(c: Column): Column = unary(c)(Md5Prefix60)
  def wordNgrams(toks: Column, m: Int): Column = unary(toks)(WordNgrams(_, m))
  def gramRungs(toks: Column, maxM: Int): Column =
    unary(toks)(GramRungs(_, maxM))
  def gramTopFrac(toks: Column, m: Int): Column =
    unary(toks)(GramTopFrac(_, m))
  def gramDupFrac(toks: Column, m: Int): Column =
    unary(toks)(GramDupFrac(_, m))
  def cdcChunkTexts(toks: Column, divisor: Int): Column =
    unary(toks)(CdcChunkTexts(_, divisor))
  def md5WinnowSet(text: Column): Column =
    unary(text)(Md5WinnowSet(_, WinnowK, WinnowW))
  def md5WinnowCount(text: Column): Column =
    unary(text)(Md5WinnowCount(_, WinnowK, WinnowW))
  def md5GramMin(text: Column): Column = unary(text)(Md5GramMin(_, WinnowK))

  /** Whitespace tokenization, lowercased, empty-safe.
    *
    * array_remove, NOT a filter(length>0) lambda: higher-order functions
    * are interpreted (no codegen) and measured ~6x slower on this exact
    * subexpression; array_remove is a codegen'd collection op with the same
    * semantics (split("\\s+") only ever yields "" as the empty-token case).
    */
  def tokens(c: Column): Column =
    array_remove(split(trim(lower(c)), "\\s+"), "")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish subword segmentation by regex: runs of letters, digits, or
    * single non-alphanumeric symbols — a cheap, deterministic proxy for a
    * real BPE vocab (which would be a broadcast lookup table).
    */
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(lower(c), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))

  /** REAL greedy BPE tokens via the codegen'd [[BpeEncode]] expression
    * (in-repo merges table; see BpeExpressions.scala). The regex proxy
    * above stays for the oracle-checked text_stats — this is the
    * engine-seam upgrade a production vocab plugs into.
    */
  def bpeEncode(c: Column): Column = unary(c)(BpeEncode(_))

  // ------------------------------------------------ md5-gram winnowing

  /** Winnowing fingerprint parameters shared by the SQL-device and
    * Rabin paths: k-char grams, window of w consecutive gram hashes.
    */
  val WinnowK = 8
  val WinnowW = 16

  /** All k-char-gram hashes of `text`, 60-bit md5 prefixes, in position
    * order — the SQL-expressible twin of the Rabin rolling-hash stream
    * (DuckDB mirror: `CAST('0x' || substr(md5(gram), 1, 15) AS BIGINT)`).
    * Short-text edges match RabinHash: empty text -> empty stream; text
    * shorter than one gram -> a single whole-text hash.
    *
    * The lambda runs interpreted (higher-order functions skip codegen),
    * but the hash itself is the digest-bytes fast path and documents
    * bound the gram count. The compiled `md5_winnow_set` /
    * `md5_gram_min` expressions are its codegen'd twins (value-equal,
    * pinned in WinnowSpec); `rabin_winnow` runs the same windowing over
    * a different hash base.
    */
  def gramHashes(text: Column, k: Int = WinnowK): Column = {
    val m = length(text) - k + 1
    when(length(text) === 0, expr("array()").cast("array<bigint>"))
      .when(m < 1, array(md5Prefix60(text)))
      .otherwise(transform(sequence(lit(1), m),
        i => md5Prefix60(text.substr(i, lit(k)))))
  }

  /** Sliding-window minima of a gram-hash stream — winnowing's pick per
    * window position, BEFORE consecutive-dedup. `array_distinct` of this
    * is exactly the winnowed fingerprint SET (consecutive-dedup only
    * drops adjacent repeats, so the distinct sets agree), which is all
    * the overlap-dedup consumers need; [[winnowCount]] mirrors the
    * dedup'd pick count for fingerprint-density stats.
    */
  def windowMins(hs: Column, w: Int = WinnowW): Column =
    when(size(hs) === 0, hs)
      .when(size(hs) <= w, array(array_min(hs)))
      .otherwise(transform(sequence(lit(1), size(hs) - w + 1),
        j => array_min(slice(hs, j, lit(w)))))

  /** Number of winnowed picks with consecutive-dedup applied (the
    * Schleimer et al. output length): position 1 always counts, position
    * j>1 counts when it differs from its predecessor. The greatest()
    * clamp keeps element_at in range at j=1 (the j=1 disjunct already
    * decides that position) — same clamp in the DuckDB mirror.
    */
  def winnowCount(wins: Column): Column =
    when(size(wins) === 0, lit(0)).otherwise(
      size(filter(sequence(lit(1), size(wins)), j =>
        (j === 1) || (element_at(wins, j) =!=
          element_at(wins, greatest(j - 1, lit(1)))))))

  /** Fraction of characters that are punctuation. */
  def punctRatio(c: Column): Column =
    (length(c) - length(regexp_replace(c, "\\p{Punct}", "")))
      .cast("double") / greatest(length(c), lit(1)).cast("double")

  /** Fraction of tokens found in a stopword list. */
  def stopwordRatio(c: Column, stopwords: Seq[String]): Column = {
    val t = tokens(c)
    size(filter(t, tok => tok.isInCollection(stopwords))).cast("double") /
      greatest(size(t), lit(1)).cast("double")
  }

  /** Distinct-token ratio — low values flag degenerate/repetitive text. */
  def uniqueTokenRatio(c: Column): Column = {
    val t = tokens(c)
    size(array_distinct(t)).cast("double") /
      greatest(size(t), lit(1)).cast("double")
  }

  /** Mean token length in characters. */
  def avgTokenLength(c: Column): Column = {
    val t = tokens(c)
    aggregate(transform(t, tok => length(tok)), lit(0),
      (acc, x) => acc + x).cast("double") /
      greatest(size(t), lit(1)).cast("double")
  }

  /** Composite quality score in [0,1]: favors some stopwords (fluent prose),
    * lexical diversity, and reasonable length; fixed evaluation order keeps
    * the double arithmetic reproducible across engines.
    */
  def qualityScore(c: Column, stopwords: Seq[String]): Column =
    lit(0.3) * least(stopwordRatio(c, stopwords) * 4.0, lit(1.0)) +
      lit(0.4) * uniqueTokenRatio(c) +
      lit(0.3) * least(tokenCount(c).cast("double") / 100.0, lit(1.0))

  /** Tiny per-language marker profiles for the n-gram/stopword language-ID
    * heuristic. Real pipelines broadcast a much larger profile table; the
    * mechanism (score-per-profile, argmax) is identical.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "es" -> Seq("el", "la", "de", "que", "los", "es", "una"),
    "fr" -> Seq("le", "la", "les", "et", "des", "est", "une"),
    "zh" -> Seq("de", "shi", "le", "bu", "wo", "zai", "you"))

  /** Language ID: score = matching marker tokens per language; argmax via
    * array_max over (score, lang) structs (struct ordering compares fields
    * left-to-right, so ties break to the lexicographically largest lang —
    * deterministic).
    */
  def langId(c: Column): Column = {
    val t = tokens(c)
    val scored = langProfiles.map { case (lang, words) =>
      struct(size(filter(t, tok => tok.isInCollection(words))).as("score"),
        lit(lang).as("lang"))
    }
    array_max(array(scored: _*)).getField("lang")
  }

  /** Character n-gram set (distinct), the unit for n-gram Jaccard.
    * Guarded: sequence(1, 0) would generate a DESCENDING sequence, so short
    * strings fall back to a single-element set.
    */
  def charNgrams(c: Column, n: Int): Column =
    when(length(c) >= n,
      array_distinct(transform(sequence(lit(1), length(c) - (n - 1)),
        i => c.substr(i, lit(n)))))
      .otherwise(array(c))

  /** Word shingles (n-token windows joined by a space) — MinHash input.
    * Resolves to the codegen'd [[WordShingles]] Catalyst expression (see
    * ShingleExpressions.scala): the higher-order-function formulation it
    * replaced was interpreted and ~100x slower on the corpus pass.
    */
  def wordShingles(c: Column, n: Int): Column =
    unary(c)(WordShingles(_, n))
}
