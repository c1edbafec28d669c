package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions.md5Prefix60
import graft.sources.Tables.table

/** Bloom-filter semi-join reduction — the "runtime filter" / sideways-
  * information-passing device every 100 TB warehouse leans on: when a
  * selective dimension predicate would discard most of a fact table AFTER
  * an expensive shuffle, build a Bloom filter over the qualifying dim keys
  * (tiny, always broadcastable — 32 KiB here regardless of fact size) and
  * drop non-matching fact rows at scan speed BEFORE the join shuffles.
  * Spark's own `spark.sql.optimizer.runtime.bloomFilter.enabled` injects
  * this automatically for some plans; this operator is the explicit,
  * engine-portable formulation (and unlike the built-in one it is
  * DuckDB-mirrorable, so the whole pipeline is oracle-checked).
  *
  * The reference has no runtime filters (its joins are absent entirely —
  * SURVEY.md §2.3); this is north-star scale scope.
  *
  * Cross-engine device: positions come from md5 (the repo's standard
  * SQL-expressible hash — see Dedup's simhash/minhash oracles), so the
  * filter built here and the one an oracle mirrors in SQL are
  * bit-identical: Spark `conv(substring(md5(x),1,15),16,10)` equals
  * DuckDB `CAST('0x' || substr(md5(x),1,15) AS BIGINT)`.
  *
  * False negatives are impossible by construction (the probe runs the
  * same md5 arithmetic the build ran), so the bloom-reduced exact join
  * returns EXACTLY the plain join's rows — which is why `bloom_join`
  * carries the plain formulation as its full-hash oracle, the same
  * treatment as `join_salted`/`agg_twophase`.
  *
  * Sizing: m = 2^18 bits, k = 3. At the reference workload's shape
  * (~20 % of orders urgent), sf0.1 inserts ~30 k keys → kn/m ≈ 0.34 →
  * ~2 % false positives; m is a knob to grow with |dim ∩ predicate| at
  * scale (the filter stays broadcastable until billions of keys, at
  * which point you shard it by key range — noted, not needed here).
  */
object RuntimeFilter {

  /** Filter size in bits (32 KiB). Power of two so pos→(word,bit) is a
    * shift/mask, not a division.
    */
  val BloomBits: Long = 1L << 18
  val BloomK = 3

  /** Probe positions via Kirsch–Mitzenmacher: ONE md5 per key yields
    * h1/h2 (two overlapping 32-bit slices of its 60-bit prefix, h2
    * forced odd) and pos_j = (h1 + j*h2) mod m — k positions for one
    * hash evaluation, the same family dedup_minhash's 64-member
    * signature uses. On a 100 TB fact scan the md5 is the dominant
    * per-row cost, so this is a direct k-fold cut; Catalyst's
    * subexpression elimination computes the shared md5 once even after
    * projection collapse.
    */
  private val KmMask = (1L << 32) - 1L

  /** The codegen'd md5_prefix60 expression computes the identical value
    * to conv(substring(md5(x),1,15),16,10) minus the hex-string round
    * trip — on the fact-scan probe path the md5 is the per-row cost
    * that matters (the simhash signatures use it for the same reason).
    */
  def bloomHashes(key: Column): (Column, Column) = {
    val p = md5Prefix60(key.cast("string"))
    (shiftright(p, 28).bitwiseAND(lit(KmMask)),
      p.bitwiseAND(lit(KmMask)).bitwiseOR(lit(1L)))
  }

  def bloomPos(j: Int, key: Column): Column = {
    val (h1, h2) = bloomHashes(key)
    pmod(h1 + lit(j.toLong) * h2, lit(BloomBits))
  }

  /** Build the filter as a (word_idx, word) table — the bitset as ≤ 4096
    * 64-bit words. One cheap shuffle of the (already predicate-reduced)
    * key column; the result is broadcast to every probe join.
    */
  def bloomBuild(keys: DataFrame, keyCol: String): DataFrame = {
    keys
      .select(explode(array((0 until BloomK).map(j =>
        bloomPos(j, col(keyCol))): _*)).as("pos"))
      .select(shiftright(col("pos"), 6).as("w_idx"),
        col("pos").bitwiseAND(lit(63L)).as("bit"))
      .groupBy(col("w_idx"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT)))")
        .as("word"))
  }

  /** Keep only fact rows the filter might contain: k broadcast hash joins
    * against the word table (no shuffle of the fact side anywhere — the
    * fact stream stays at scan speed), then a conjunction of the k bit
    * tests. A missing word (left-join null) means bit not set.
    */
  def bloomMightContain(fact: DataFrame, keyCol: String,
                        words: DataFrame): DataFrame = {
    val tested = (0 until BloomK).foldLeft(fact) { (df, j) =>
      val w = broadcast(words.select(col("w_idx").as(s"_w$j"),
        col("word").as(s"_word$j")))
      df.withColumn(s"_pos$j", bloomPos(j, col(keyCol)))
        .join(w, shiftright(col(s"_pos$j"), 6) === col(s"_w$j"), "left")
        .withColumn(s"_hit$j", coalesce(
          expr(s"(shiftright(_word$j, CAST(_pos$j & 63 AS INT)) & 1) = 1"),
          lit(false)))
        .drop(s"_w$j", s"_word$j", s"_pos$j")
    }
    tested
      .filter((0 until BloomK).map(j => col(s"_hit$j")).reduce(_ && _))
      .drop((0 until BloomK).map(j => s"_hit$j"): _*)
  }

  /** lineitem ⋈ (orders WHERE urgent), bloom-reduced before the shuffle.
    * The exact join stays (it removes the false positives), but only
    * bloom survivors reach it — at 100 TB that is the difference between
    * shuffling the whole fact table and shuffling ~20 % of it. The dim
    * side is deliberately NOT broadcast-hinted: the point of the device
    * is the regime where the qualifying dim rows are too big to
    * broadcast but their 32 KiB bloom never is.
    */
  def bloomJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = table(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val words = bloomBuild(dim, "o_orderkey")
    val reduced =
      bloomMightContain(table(s, dir, "lineitem"), "l_orderkey", words)
    reduced.join(dim, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("o_orderpriority"))
  }

  /** The SAME star join written naively — no bloom code at all — with
    * [[graft.plans.BloomJoinRewrite]] applied to its optimized plan,
    * which injects the [[bloomJoin]] device automatically (sideways
    * information passing as a PLAN rewrite, the way a warehouse plants
    * runtime filters; PlansSpec asserts the fired plan). The rewrite
    * touches this query's plan only: nothing is installed in or set on
    * the session, so its other statements never see it. The oracle
    * (the plain join) checks rewrite-invariance end to end.
    */
  def bloomJoinAuto(s: SparkSession, dir: String): DataFrame = {
    val naive = table(s, dir, "lineitem")
      .join(table(s, dir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("o_orderpriority"))
    org.apache.spark.sql.GraftSqlBridge.ofRows(s,
      graft.plans.BloomJoinRewrite(s, naive.queryExecution.optimizedPlan))
  }
}
