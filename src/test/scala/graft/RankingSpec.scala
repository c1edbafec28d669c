package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Ranking

/** Invariants for the term-statistics ranking/scoring operators, with
  * planted documents whose expected behavior is known.
  */
class RankingSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val dir = "/root/testdata/sf0.001"

  /** documents + two planted docs: one stuffed with a unique rare term,
    * one stuffed with the BM25 query terms.
    */
  private def planted(): String = {
    val tmp = java.nio.file.Files.createTempDirectory("rank").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val extra = spark.range(1).select(
      lit(90001L).as("doc_id"),
      lit("zyzzyva zyzzyva zyzzyva zyzzyva common words here")
        .as("text")).unionByName(
      spark.range(1).select(
        lit(90002L).as("doc_id"),
        lit(Seq.fill(20)(Ranking.Bm25Query).flatten.mkString(" "))
          .as("text")))
    docs.select(col("doc_id"), col("text"))
      .unionByName(extra)
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("tfidf: contiguous ranks, descending scores, rare term wins") {
    val tmp = planted()
    val r = Ranking.tfIdfTopTerms(spark, tmp)
    // per-doc ranks are 1..min(5, n_terms) with strictly descending
    // (score, term) ordering
    val bad = r.withColumn("prev", lag(col("score"), 1)
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("doc_id")).orderBy(col("rank"))))
      .filter(col("prev").isNotNull && col("prev") < col("score"))
    assert(bad.count() === 0L)
    assert(r.groupBy(col("doc_id")).agg(min("rank").as("mn"))
      .filter(col("mn") =!= 1L).count() === 0L)
    // the planted doc's top term is its unique rare term
    val top = r.filter(col("doc_id") === 90001L && col("rank") === 1L)
      .collect()(0)
    assert(top.getString(2) === "zyzzyva")
  }

  test("bm25: query-term-stuffed doc ranks first, ranks contiguous") {
    val tmp = planted()
    val r = Ranking.bm25Search(spark, tmp).collect()
    assert(r.map(_.getLong(0)).toSeq === (1L to r.length))
    assert(r.head.getLong(1) === 90002L)
    // scores non-increasing in rank order
    val scores = r.map(_.getDouble(3))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // every returned doc contains at least one query term
    val docs = spark.read.parquet(s"$tmp/documents.parquet")
      .filter(lower(col("text")).rlike(Ranking.Bm25Query.mkString("|")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(r.map(_.getLong(1)).forall(docs.contains))
  }

  test("bigram_ll: counts equal tokens-1, scores negative") {
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).as("n"))
    val r = Ranking.bigramLogLikelihood(spark, dir)
    // bigram OCCURRENCES per doc are exactly n_tokens - 1 (0 for n < 2)
    assert(r.join(toks, "doc_id")
      .filter(col("n_bigrams") =!= greatest(col("n") - 1, lit(0)))
      .count() === 0L)
    // log-likelihoods are negative wherever defined
    assert(r.filter(col("avg_ll2") >= 0.0).count() === 0L)
  }

  test("trigram_ll: counts equal tokens-2; backoff penalizes novel text") {
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).as("n"))
    val r = Ranking.trigramLogLikelihood(spark, dir)
    // trigram OCCURRENCES per doc are exactly n_tokens - 2 (0 for n < 3)
    assert(r.join(toks, "doc_id")
      .filter(col("n_trigrams") =!= greatest(col("n") - 2, lit(0)))
      .count() === 0L)
    assert(r.filter(col("avg_ll3") >= 0.0).count() === 0L)
    // backoff fires: the zyzzyva doc's trigrams are corpus-singletons
    // (pruned from the model), so it backs off to the unigram base and
    // scores far below the query-term doc, whose trigrams repeat 60x
    val tmp = planted()
    val p = Ranking.trigramLogLikelihood(spark, tmp).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(p(90001L).getDouble(2) < p(90002L).getDouble(2))
  }

  test("vocab coverage: minimal cutoffs, shares reach their targets") {
    val r = Ranking.vocabCoverage(spark, dir).collect()
      .map(x => (x.getDouble(0), x.getLong(1), x.getDouble(2)))
      .sortBy(_._1)
    assert(r.map(_._1).toSeq === Ranking.CoverageTargets.sorted)
    // attained share clears the target, and cutoffs grow with coverage
    r.foreach { case (cov, _, share) => assert(share >= cov - 1e-9) }
    val sizes = r.map(_._2)
    assert(sizes.zip(sizes.tail).forall { case (a, b) => a <= b })
    // minimality: one fewer term must NOT reach the target — recompute
    // the frequency-ranked cumulative share directly
    val tf = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(
        graft.functions.TextFunctions.tokens(col("text"))).as("term"))
      .groupBy("term").count().collect()
      .map(x => x.getString(0) -> x.getLong(1))
      .sortBy { case (t, c) => (-c, t) }
    val total = tf.map(_._2).sum.toDouble
    val cum = tf.map(_._2).scanLeft(0L)(_ + _).tail
    r.foreach { case (cov, size, _) =>
      if (size > 1) assert(cum(size.toInt - 2) / total < cov)
      assert(cum(size.toInt - 1) / total >= cov - 1e-9)
    }
  }

  test("hybrid fusion: RRF math, contiguous ranks, both-list docs rewarded") {
    val r = Ranking.hybridRankFusion(spark, dir).collect()
    assert(r.length === Ranking.RrfTopK)
    assert(r.map(_.getLong(0)).toSeq === (1L to r.length))
    r.foreach { x =>
      val rb = if (x.isNullAt(2)) None else Some(x.getLong(2))
      val rv = if (x.isNullAt(3)) None else Some(x.getLong(3))
      // every fused row came from at least one retriever list
      assert(rb.isDefined || rv.isDefined)
      // the reported score IS reciprocal-rank fusion of the two ranks
      val expect = rb.map(v => 1.0 / (Ranking.RrfK + v)).getOrElse(0.0) +
        rv.map(v => 1.0 / (Ranking.RrfK + v)).getOrElse(0.0)
      assert(math.abs(x.getDouble(4) - expect) < 1e-6)
    }
    // scores non-increasing in rank order
    val sc = r.map(_.getDouble(4))
    assert(sc.zip(sc.tail).forall { case (a, b) => a >= b })
    // fused head is at least as good as the best single-list evidence:
    // rank-1 fused score >= 1/(k+1), the max any one list contributes
    assert(sc.head >= 1.0 / (Ranking.RrfK + 1.0) - 1e-9)
  }

  test("word_ngrams / gram_rungs equal their higher-order-function " +
       "twins, value for value in order (the codegen swap is invisible)") {
    import graft.functions.{TextFunctions => T}
    graft.functions.GraftFunctions.register(spark)
    val toksDf = spark.read.parquet(s"$dir/documents.parquet")
      .select(T.tokens(col("text")).as("toks"))
      .withColumn("nt", size(col("toks")))
      .filter(col("nt") >= 1)
    for (m <- Seq(2, 3, 5)) {
      val hof = toksDf.filter(col("nt") >= m).select(
        transform(sequence(lit(1), col("nt") - (m - 1)),
          i => concat_ws(" ", (0 until m).map(d =>
            element_at(col("toks"), i + lit(d))): _*)).as("g"))
      val cg = toksDf.filter(col("nt") >= m).select(
        call_function("word_ngrams", col("toks"), lit(m)).as("g"))
      assert(cg.exceptAll(hof).count() === 0L, s"m=$m")
      assert(hof.exceptAll(cg).count() === 0L, s"m=$m")
    }
    for (maxM <- Seq(2, 4)) {
      val hof = toksDf.select(flatten(
        transform(sequence(lit(1), col("nt")), i =>
          transform(sequence(lit(1),
              least(lit(maxM), col("nt") - i + lit(1))),
            m => concat(m.cast("string"), lit(":"),
              array_join(slice(col("toks"), i, m), " "))))).as("g"))
      val cg = toksDf.select(
        call_function("gram_rungs", col("toks"), lit(maxM)).as("g"))
      assert(cg.exceptAll(hof).count() === 0L, s"maxM=$maxM")
      assert(hof.exceptAll(cg).count() === 0L, s"maxM=$maxM")
    }
  }

  test("word_ngrams / gram_rungs skip null tokens like their HOF twins " +
       "(no null elements under the containsNull=false contract)") {
    graft.functions.GraftFunctions.register(spark)
    // planted nulls: none of the repo's tokenizers emit them, but both
    // functions are SQL-registered and reachable with arbitrary arrays
    val df = spark.sql(
      "SELECT array('a', cast(null as string), 'b', '', 'c') AS toks, " +
        "size(array('a', cast(null as string), 'b', '', 'c')) AS nt")
    for (m <- Seq(1, 2, 3)) {
      val hof = df.select(
        transform(sequence(lit(1), col("nt") - (m - 1)),
          i => concat_ws(" ", (0 until m).map(d =>
            element_at(col("toks"), i + lit(d))): _*)).as("g"))
        .collect()(0).getSeq[String](0)
      val cg = df.select(
        call_function("word_ngrams", col("toks"), lit(m)).as("g"))
        .collect()(0).getSeq[String](0)
      assert(cg === hof, s"m=$m")
      assert(!cg.contains(null), s"m=$m produced a null gram")
    }
    for (maxM <- Seq(2, 4)) {
      val hof = df.select(flatten(
        transform(sequence(lit(1), col("nt")), i =>
          transform(sequence(lit(1),
              least(lit(maxM), col("nt") - i + lit(1))),
            m => concat(m.cast("string"), lit(":"),
              array_join(slice(col("toks"), i, m), " "))))).as("g"))
        .collect()(0).getSeq[String](0)
      val cg = df.select(
        call_function("gram_rungs", col("toks"), lit(maxM)).as("g"))
        .collect()(0).getSeq[String](0)
      assert(cg === hof, s"maxM=$maxM")
      assert(!cg.contains(null), s"maxM=$maxM produced a null gram")
    }
  }

  // the registry may wrap the builder's AnalysisException; the
  // contract is that the DESCRIPTIVE message (function name, what a
  // valid call looks like) reaches the user, wrapped or not
  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
  private def fullMsg(t: Throwable): String =
    causes(t).map(_.getMessage).mkString("\n")

  test("word_ngrams / gram_rungs raise a descriptive analysis error on " +
       "a missing or non-literal order argument") {
    graft.functions.GraftFunctions.register(spark)
    val df = spark.range(1).selectExpr("array('a','b') AS toks",
      "2 AS n_col")
    for (fn <- Seq("word_ngrams", "gram_rungs")) {
      val e1 = intercept[Exception] {
        df.selectExpr(s"$fn(toks)").collect()
      }
      assert(fullMsg(e1).contains(fn), fullMsg(e1))
      assert(fullMsg(e1).contains("2 arguments"), fullMsg(e1))
      val e2 = intercept[Exception] {
        df.selectExpr(s"$fn(toks, n_col)").collect()
      }
      assert(fullMsg(e2).contains(fn), fullMsg(e2))
      assert(fullMsg(e2).toLowerCase.contains("literal"), fullMsg(e2))
      // a non-integral literal is refused, not truncated to n=2
      for (n <- Seq("2.9D", "2.9")) {
        val e3 = intercept[Exception] {
          df.selectExpr(s"$fn(toks, $n)").collect()
        }
        assert(fullMsg(e3).contains(fn), fullMsg(e3))
        assert(fullMsg(e3).contains("literal integer"), fullMsg(e3))
      }
    }
  }

  test("every SQL function builder checks its argument count and " +
       "literal arguments, failing analysis with the function's name") {
    graft.functions.GraftFunctions.register(spark)
    val df = spark.range(1).selectExpr("'a b c d' AS text", "2 AS n_col")
    def refused(call: String, says: String): Unit = {
      val e = intercept[Exception](df.selectExpr(call).collect())
      assert(causes(e).exists(_.isInstanceOf[
        org.apache.spark.sql.AnalysisException]), s"$call: $e")
      val fn = call.takeWhile(_ != '(')
      assert(fullMsg(e).contains(fn), s"$call: ${fullMsg(e)}")
      assert(fullMsg(e).contains(says), s"$call: ${fullMsg(e)}")
    }
    Seq(
      "word_shingles(text, 2.9D)" -> "literal integer",
      "word_shingles(text, n_col)" -> "literal integer",
      "word_shingles(text, 0)" -> "positive literal integer",
      "word_ngrams(split(text, ' '), 0)" -> "positive literal integer",
      "gram_rungs(split(text, ' '), -1)" -> "positive literal integer",
      "word_shingles(text, 2, 7)" -> "1 or 2 arguments",
      "rabin_fingerprint(text, 5)" -> "exactly 1 argument",
      "rabin_winnow(text, 5)" -> "exactly 1 argument",
      "vec_dot(array(1.0F))" -> "exactly 2 arguments",
      "bpe_encode(text, text)" -> "string literal",
      "bpe_encode(text, CAST(NULL AS STRING))" -> "must not be NULL",
      "bpe_encode(text, 'a', 'b')" -> "1 or 2 arguments"
    ).foreach { case (call, says) => refused(call, says) }
    // too few and too many arguments, for every function in the table
    for (f <- graft.functions.GraftFunctions.Table) {
      refused(s"${f.name}()", "argument")
      refused(f.name + Seq.fill(f.arity.max + 1)("text")
        .mkString("(", ", ", ")"), "argument")
    }
    // the one-argument form keeps its default order n = 3
    val dflt = df.selectExpr("word_shingles(text) AS a",
      "word_shingles(text, 3) AS b").collect()(0)
    assert(dflt.getSeq[String](0) === dflt.getSeq[String](1))
    assert(dflt.getSeq[String](0).contains("a b c"))
  }

  test("unigram_ll: gibberish scores far below common text") {
    val tmp = planted()
    val r = Ranking.unigramLogLikelihood(spark, tmp).collect()
      .map(x => x.getLong(0) -> x).toMap
    // log-likelihoods are negative; dl matches the token count
    assert(r.values.forall(x => x.isNullAt(2) || x.getDouble(2) < 0.0))
    assert(r(90001L).getLong(1) === 7L)
    // the rare-term doc (4/7 tokens are a hapax) scores below the
    // query-term doc (all tokens corpus-common)
    assert(r(90001L).getDouble(2) < r(90002L).getDouble(2))
  }
}
