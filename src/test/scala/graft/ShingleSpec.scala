package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{TextFunctions => T}

/** Equivalence fuzz for the codegen'd WordShingles Catalyst expression
  * against the higher-order-function Column formulation it replaced (the
  * expression exists purely for speed — outputs must be bit-identical,
  * including lowercase/trim/empty-token edge semantics and first-
  * occurrence distinct ordering).
  */
class ShingleSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark

  /** Deterministic scalacheck sampling (no scalatest bridge offline). */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, rng.Seed(i.toLong)))

  /** The pre-round-2 interpreted formulation, verbatim. */
  private def hofShingles(c: org.apache.spark.sql.Column, n: Int) = {
    val t = array_remove(split(trim(lower(c)), "\\s+"), "")
    array_distinct(when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", slice(t, i, lit(n)))))
      .otherwise(array(concat_ws(" ", t))))
  }

  test("BpeEncode: known merges, lossless concat, sane bounds") {
    graft.functions.GraftFunctions.register(spark)
    // hand-checkable encodings under the in-repo merges table
    assert(graft.functions.BpeOps.encodeWord("the").toSeq === Seq("the"))
    assert(graft.functions.BpeOps.encodeWord("and").toSeq === Seq("and"))
    assert(graft.functions.BpeOps.encodeWord("which").toSeq === Seq("which"))
    assert(graft.functions.BpeOps.encodeWord("qqq").toSeq ===
      Seq("q", "q", "q")) // nothing merges
    // supplementary-plane characters stay whole symbols (code-point
    // splitting, never lone surrogates)
    assert(graft.functions.BpeOps.encodeWord("a😀b")
      .mkString("") === "a😀b")
    assert(graft.functions.BpeOps.encodeWord("😀").toSeq ===
      Seq("😀"))
    // distributed properties on real corpus text
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val checked = docs.select(
      T.bpeEncode(col("text")).as("bpe"),
      T.tokens(col("text")).as("toks"))
      .select(
        // lossless: concatenated tokens reproduce the lowercased words
        (concat_ws("", col("bpe")) === concat_ws("", col("toks"))).as("ok"),
        // compression: between word count and character count
        (size(col("bpe")) >= size(col("toks"))).as("ge_words"),
        (size(col("bpe")) <= length(concat_ws("", col("toks")))).as("le_chars"))
    assert(checked.filter(!col("ok") || !col("ge_words") || !col("le_chars"))
      .count() === 0L)
    // SQL resolution through the extension injection
    assert(spark.sql("select size(bpe_encode('the quick brown fox')) n")
      .collect()(0).getInt(0) > 0)
  }

  test("md5_prefix60 equals the conv(substring(md5)) formulation") {
    graft.functions.GraftFunctions.register(spark)
    val mism = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("explode(split(text, ' ')) AS tok")
      .selectExpr("md5_prefix60(tok) AS fast",
        "CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT) AS ref")
      .filter(org.apache.spark.sql.functions.col("fast") =!=
        org.apache.spark.sql.functions.col("ref"))
    assert(mism.count() === 0L)
    // empty string too (md5 of zero bytes is defined)
    assert(spark.sql(
      "SELECT md5_prefix60('') = CAST(conv(substring(md5(''), 1, 15), 16, 10) AS BIGINT)")
      .collect()(0).getBoolean(0))
  }

  test("BpeEncode: vocab loads from a merges.txt artifact") {
    graft.functions.GraftFunctions.register(spark)
    // the toy table written out in the standard merges.txt format must
    // reproduce the default vocab exactly
    val same = java.nio.file.Files.createTempFile("merges", ".txt")
    java.nio.file.Files.writeString(same,
      "#version: toy\n" +
        graft.functions.BpeOps.Merges
          .map { case (a, b) => s"$a $b" }.mkString("\n") + "\n")
    val q =
      s"""SELECT bpe_encode(text) AS dflt,
         |       bpe_encode(text, '$same') AS loaded
         |FROM parquet.`/root/testdata/sf0.001/documents.parquet`""".stripMargin
    assert(spark.sql(q)
      .filter(org.apache.spark.sql.functions.col("dflt") =!=
        org.apache.spark.sql.functions.col("loaded")).count() === 0L)
    // a DIFFERENT vocab actually changes the encoding
    val other = java.nio.file.Files.createTempFile("merges2", ".txt")
    java.nio.file.Files.writeString(other, "q u\nqu i\nqui c\nquic k\n")
    val r = spark.sql(
      s"SELECT bpe_encode('quick', '$other') a, bpe_encode('quick') b")
      .collect()(0)
    assert(r.getSeq[String](0) === Seq("quick"))
    assert(r.getSeq[String](1) !== Seq("quick"))
    // loader rejects malformed artifacts loudly
    val bad = java.nio.file.Files.createTempFile("mergesbad", ".txt")
    java.nio.file.Files.writeString(bad, "a b c\n")
    intercept[IllegalArgumentException] {
      graft.functions.BpeOps.loadVocab(bad.toString)
    }
  }

  test("WordShingles matches the replaced HOF formulation on fuzzed text") {
    val word = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(6)),
      Gen.oneOf("the", "The", "Élan", "ÑOÑO", "x,y.z", "a-b", "", " ",
        "\t", "mixedCASE", "123", "添加数据", "ß"))
    val sep = Gen.oneOf(" ", "  ", "\t", " \n ")
    val textGen = for {
      ws <- Gen.listOf(word)
      s <- sep
    } yield ws.mkString(s)
    val texts = (samples(textGen, 150) ++
      Seq("", " ", "\t\n", "one", "one two", "a a a a a")).distinct
    import spark.implicits._
    val df = texts.toDF("text")
    Seq(2, 3, 8).foreach { n =>
      val mismatched = df
        .select(col("text"), T.wordShingles(col("text"), n).as("fast"),
          hofShingles(col("text"), n).as("ref"))
        .filter(col("fast") =!= col("ref"))
        .collect()
      assert(mismatched.isEmpty,
        s"n=$n first=${mismatched.headOption.mkString}")
    }
  }
}
