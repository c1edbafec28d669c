package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** Operators build the engine's expressions as Columns, so they run on a
  * session that has neither the extensions nor `GraftFunctions.register`,
  * give the same rows there, and leave its function registry empty.
  */
class BareSessionSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val dir = "/root/testdata/sf0.001"

  /** One registry query per engine function an operator uses (the
    * functions in the comments).
    */
  val Queries = Seq(
    "dedup_minhash", // word_shingles, md5_prefix60
    "dedup_winnow", // md5_winnow_set
    "doc_fingerprint", // md5_gram_min, md5_winnow_count
    "quality_repetition", // gram_top_frac, gram_dup_frac
    "cdc_chunks", // cdc_chunk_texts
    "bigram_ll", // word_ngrams
    "fivegram_ll", // word_ngrams, gram_rungs
    "bloom_join_auto", // md5_prefix60 in the bloom hashes
    "dsir_weights", // md5_prefix60 bucketing
    "ann_bruteforce", // vec_cosine
    "ann_pq", // vec_l2sq
    "ann_lsh") // vec_dot

  /** A session with no extensions on the shared context. create() makes
    * it the default and active session, so the shared test session is
    * put back straight after (as in SessionSpec).
    */
  private def bareSession(): SparkSession = {
    spark // the shared context must exist before the builder runs
    try SparkSession.builder().create()
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  private def multiset(rows: Array[Row]): Map[Seq[Any], Int] =
    rows.toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  test("registry queries on a bare session equal the extended session's " +
       "rows and leave the bare function registry empty") {
    val bare = bareSession()
    val reg = bare.sessionState.functionRegistry
    val names = graft.functions.GraftFunctions.Table.map(_.name)
    assert(names.forall(n => !reg.functionExists(FunctionIdentifier(n))))
    for (q <- Queries) {
      val expected = multiset(SparkEntry.queries(q)(spark, dir).collect())
      SparkSession.setActiveSession(bare)
      val got =
        try multiset(SparkEntry.queries(q)(bare, dir).collect())
        finally SparkSession.setActiveSession(spark)
      assert(expected.nonEmpty, q)
      assert(got === expected, q)
    }
    val bound = names.filter(n => reg.functionExists(FunctionIdentifier(n)))
    assert(bound.isEmpty, s"operators bound into the bare registry: $bound")
  }
}
