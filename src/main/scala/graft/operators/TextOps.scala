package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}
import graft.sources.Tables.table

/** Text-analysis queries over the `documents` table — the language-ID,
  * quality-scoring, token-counting, and fingerprinting passes a training
  * -data pipeline runs before filtering/dedup. All per-row, shuffle-free,
  * codegen'd: at 100 TB these run at parquet-scan speed.
  */
object TextOps {

  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "is", "to", "in")

  /** Structural token statistics per document (oracle-checked). */
  def textStats(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").select(
      col("doc_id"),
      col("n_chars"),
      length(col("text")).as("len_chars"),
      T.tokenCount(col("text")).as("n_tokens"),
      T.bpeTokenCount(col("text")).as("n_bpe_tokens"),
      T.uniqueTokenRatio(col("text")).as("uniq_ratio"),
      T.avgTokenLength(col("text")).as("avg_token_len"))

  /** Quality scoring + keep/drop verdict (oracle-checked). */
  def textQuality(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").select(
      col("doc_id"),
      T.punctRatio(col("text")).as("punct_ratio"),
      T.stopwordRatio(col("text"), stopwords).as("stop_ratio"),
      T.qualityScore(col("text"), stopwords).as("quality"),
      (T.qualityScore(col("text"), stopwords) > 0.5).as("keep"))

  /** Language-ID heuristic vs the labeled lang column (oracle-checked:
    * the marker-count argmax mirrors to DuckDB as list_filter counts +
    * list_max over (score, lang) structs — struct comparison is
    * field-lexicographic in both engines, so ties break identically).
    */
  def langId(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").select(
      col("doc_id"), col("lang"),
      T.langId(col("text")).as("lang_pred"))

  /** Document fingerprinting + exact-collision dup verdict
    * (oracle-checked): fp is the minimum gram hash over the whole text
    * (the single stable document fingerprint), n_winnow the
    * consecutive-deduped winnowing pick count — both from the md5-gram
    * SQL device (TextFunctions) so DuckDB recomputes the entire pipeline
    * by value.
    */
  def docFingerprint(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    // compiled twins of the TextFunctions SQL device (WinnowSpec pins
    // value equality); one codegen'd call per row each. The repartition
    // spreads the per-doc hash pass across cores — the source is one
    // parquet split, and the pass runs BEFORE the window's fp exchange
    // (single-split trap; measured 3.1->0.9 s)
    table(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), T.md5GramMin(col("text")).as("fp"),
        T.md5WinnowCount(col("text")).as("n_winnow"))
      .withColumn("first_doc", first(col("doc_id")).over(w))
      .withColumn("is_dup", col("doc_id") =!= col("first_doc"))
  }

  /** Gopher repetition-rule thresholds (Rae et al. 2021, table A1): a
    * document is dropped when the single most frequent 2-gram covers
    * more than 18% of its 2-grams, the top 3-gram more than 16%, or
    * duplicated 5-grams (count >= 2 within the doc) cover more than 15%
    * of 5-gram occurrences. Gopher measures character coverage; this
    * corpus is uniform-length-token text, so token-occurrence coverage
    * is the same statistic (documented deviation).
    */
  val TopBigramMax = 0.18
  val TopTrigramMax = 0.16
  val DupFivegramMax = 0.15

  /** Gopher-style within-document repetition metrics + keep verdict
    * (oracle-checked) — the standard filter against looping/boilerplate
    * generations that slip past length and stopword checks.
    *
    * Scale shape (r22): every metric is a PER-DOCUMENT function of the
    * token array, and each document is one row — so the reduction runs
    * INSIDE the row via the codegen'd gram_top_frac/gram_dup_frac
    * expressions (NgramOps.gramCounts: identical gram strings and
    * counts to the exploded formulation, identical IEEE divisions).
    * The former shape exploded every order's grams into a corpus-sized
    * (doc, gram) exchange, re-aggregated per order, and joined three
    * metric frames back on doc_id — 3 explodes, 6 aggregate passes, 3
    * shuffles and a tokenize checkpoint, all for per-row arithmetic
    * (guide §1.2 step 1 / §2.4: the aggregate's key IS the row, so no
    * shuffle is fundamentally required). Plan now: one scan, one
    * project, zero exchanges.
    */
  def qualityRepetition(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    // null when the doc has fewer than nn tokens — the same null the
    // former filter(n >= nn) + left join produced; the keep verdict
    // compares the UNROUNDED fraction, exactly as before
    val raw = docs
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        T.gramTopFrac(col("toks"), 2).as("t2"),
        T.gramTopFrac(col("toks"), 3).as("t3"),
        T.gramDupFrac(col("toks"), 5).as("d5"))
    raw.select(col("doc_id"),
      round(col("t2"), 4).as("top2_frac"),
      round(col("t3"), 4).as("top3_frac"),
      round(col("d5"), 4).as("dup5_frac"),
      (coalesce(col("t2") <= TopBigramMax, lit(true)) &&
        coalesce(col("t3") <= TopTrigramMax, lit(true)) &&
        coalesce(col("d5") <= DupFivegramMax, lit(true)))
        .as("keep"))
  }

  /** Heavy hitters to keep. */
  val HeavyHittersK = 50

  /** Corpus-level frequent tokens (oracle-checked): the vocabulary
    * heavy-hitter mine behind stopword-list induction, tokenizer vocab
    * audits, and spam-token detection. Shape is the 100 TB-safe one:
    * explode -> map-side partial count -> one shuffle keyed by token
    * (cardinality grows with the vocabulary, no degenerate key) ->
    * TakeOrderedAndProject for the top K — the full count table is
    * never globally sorted and never collected.
    */
  def heavyHitters(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(explode(T.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(HeavyHittersK)

  /** Misra–Gries counter capacity and report size for [[sketchFreq]]. */
  val MgCap = 32
  val MgTopK = 10

  /** Frequency sketch vs exact truth (oracle-checked): runs the
    * [[graft.functions.MisraGriesAggregator]] mergeable sketch over the
    * full token stream next to the exact counts, and emits, for the
    * exact top-[[MgTopK]] tokens, the exact count plus the sketch's
    * deterministic error verdict (0 <= exact - est <= N/(cap+1), the
    * MG guarantee over ANY reduce/merge tree). The verdict is the
    * hash-checkable surface — the `agg_approx_distinct` device applied
    * to the second sketch family: a partition-order-dependent estimate
    * becomes engine-portable by emitting the theory-guaranteed bound
    * check instead of the estimate.
    *
    * Scale shape: the sketch side ships O(cap) bytes per task (the
    * whole point of MG at 100 TB — frequent-token mining with NO
    * token-keyed shuffle); the exact side is [[heavyHitters]]'s
    * partial-count + TakeOrdered shape and exists to audit the sketch.
    */
  def sketchFreq(s: SparkSession, dir: String): DataFrame = {
    val toks = table(s, dir, "documents")
      .select(explode(T.tokens(col("text"))).as("token"))
    val mg = toks.agg(
      graft.functions.MisraGries.mgSketch(MgCap)(col("token")).as("mg"),
      count(lit(1)).as("n"))
    val top = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("token"))
      .limit(MgTopK)
    val est = coalesce(element_at(col("mg"), col("token")), lit(0L))
    top.crossJoin(broadcast(mg))
      .select(col("token"), col("exact_cnt"),
        (col("exact_cnt") - est >= 0L &&
          (col("exact_cnt") - est).cast("double") <=
            col("n").cast("double") / (MgCap + 1)).as("est_in_bound"))
  }
}
