package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{GraftFunctions, RabinHash, TextFunctions => T}

/** The md5-gram winnowing SQL device (TextFunctions.gramHashes /
  * windowMins / winnowCount — the formulation the DuckDB oracle mirrors
  * behind dedup_winnow and doc_fingerprint) is pinned value-equal to
  * BOTH the compiled expressions the operators actually run
  * (Md5WinnowSet/Count/GramMin) AND the imperative windowing algorithm
  * shared with the Rabin path (RabinHash.winnowHashes).
  *
  * Evaluation note: the interpreted HOF columns are materialized via
  * localCheckpoint before re-use — without the barrier, projection
  * collapse + filter pushdown inline the O(m) gram-hash transform into
  * every window slice (O(m^2) md5 calls per doc per consumer), which is
  * exactly why the operators run the compiled twins instead.
  */
class WinnowSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val dir = "/root/testdata/sf0.001"

  /** documents + materialized SQL-device hs/wins columns. */
  private lazy val base = {
    GraftFunctions.register(spark)
    graft.sources.Tables.table(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("hs", T.gramHashes(col("text")))
      .withColumn("wins", T.windowMins(col("hs")))
      .select("doc_id", "text", "hs", "wins")
      .localCheckpoint()
  }

  test("SQL device == RabinHash.winnowHashes on the same hash stream") {
    val rows = base
      .withColumn("n_winnow", T.winnowCount(col("wins")))
      .select("doc_id", "hs", "wins", "n_winnow").collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val hs = r.getSeq[Long](1).toArray
      val wins = r.getSeq[Long](2)
      val ref = RabinHash.winnowHashes(hs, T.WinnowW)
      // windowMins keeps every window's pick; winnow dedups adjacent —
      // the distinct fingerprint SETS must agree exactly
      assert(wins.toSet == ref.toSet,
        s"doc ${r.getLong(0)}: fingerprint sets diverge")
      assert(r.getInt(3) == ref.length,
        s"doc ${r.getLong(0)}: n_winnow ${r.getInt(3)} != ref ${ref.length}")
    }
  }

  test("compiled md5 winnow expressions == the SQL-device formulation") {
    // the operators run the codegen'd Md5WinnowSet/Count/GramMin; the
    // DuckDB oracle mirrors the interpreted HOF formulation — this is
    // the bridge that keeps hash_match honest
    val rows = base.select(
      array_sort(array_distinct(col("wins"))).as("set_sql"),
      array_sort(expr("md5_winnow_set(text)")).as("set_fast"),
      T.winnowCount(col("wins")).as("cnt_sql"),
      expr("md5_winnow_count(text)").as("cnt_fast"),
      array_min(col("hs")).as("min_sql"),
      expr("md5_gram_min(text)").as("min_fast")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), "fingerprint set")
      assert(r.getInt(2) == r.getInt(3), "winnow count")
      assert(r.getLong(4) == r.getLong(5), "min gram hash")
    }
  }

  test("short-text edges match the Rabin conventions") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // empty -> no fingerprints; shorter than one gram -> one whole-text
    // hash; at most w hashes -> one global-min pick
    val df = Seq("", "abc", "a" * (T.WinnowK + 3),
        "the quick brown fox jumps!").toDF("text")
      .withColumn("hs", T.gramHashes(col("text")))
      .withColumn("wins", T.windowMins(col("hs")))
      .localCheckpoint()
      .withColumn("n_winnow", T.winnowCount(col("wins")))
      .withColumn("set_fast", expr("md5_winnow_set(text)"))
      .withColumn("cnt_fast", expr("md5_winnow_count(text)"))
    val rows = df.collect()
    assert(rows(0).getSeq[Long](1).isEmpty &&
      rows(0).getInt(3) == 0 && rows(0).getInt(5) == 0)
    assert(rows(1).getSeq[Long](1).length == 1 && rows(1).getInt(3) == 1)
    // text of length k+3 -> 4 gram hashes, under one window -> 1 pick
    assert(rows(2).getSeq[Long](1).length == 4 && rows(2).getInt(3) == 1)
    rows.foreach { r =>
      val ref = RabinHash.winnowHashes(r.getSeq[Long](1).toArray, T.WinnowW)
      assert(r.getInt(3) == ref.length && r.getInt(5) == ref.length)
      assert(r.getSeq[Long](4).toSet == ref.toSet)
    }
  }
}
