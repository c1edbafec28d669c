package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.RabinHash
import graft.operators.{Ann, Dedup, Multimodal, TextOps}

/** Specs for the training-data pipeline operators. The corpus has few real
  * duplicates, so dedup tests synthesize them: a copy of the table with
  * doc_ids offset and light text mutations must be flagged as dups of the
  * originals.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val dir = "/root/testdata/sf0.001"

  /** documents ∪ mutated copy (ids +10000, one word changed). */
  private def withSynthDups(tmp: String): Unit = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val mutated = docs
      .withColumn("doc_id", col("doc_id") + 10000)
      .withColumn("text",
        concat(col("text"), lit(" trailing mutation")))
    docs.union(mutated).write.mode("overwrite")
      .parquet(s"$tmp/documents.parquet")
  }

  test("dedup_exact flags exact copies, keeps originals") {
    val tmp = java.nio.file.Files.createTempDirectory("dup").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.union(docs.withColumn("doc_id", col("doc_id") + 10000))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = Dedup.dedupExact(spark, tmp)
    assert(r.filter(col("keep")).count() === 500L)
    assert(r.filter(!col("keep") && col("doc_id") >= 10000).count() === 500L)
  }

  test("dedup_minhash catches near-duplicates with mutations") {
    val tmp = java.nio.file.Files.createTempDirectory("dup").toString
    withSynthDups(tmp)
    val r = Dedup.dedupMinhash(spark, tmp, threshold = 0.7)
    val flagged = r.filter(col("dup_of").isNotNull)
    // every mutated doc should be flagged as dup of its original
    assert(flagged.filter(col("doc_id") >= 10000 &&
      col("dup_of") === col("doc_id") - 10000).count() >= 450L)
    // most originals stay kept (the corpus has ~two dozen REAL near-dup
    // pairs among originals — those are correctly flagged too)
    assert(r.filter(col("keep") && col("doc_id") < 10000).count() >= 450L)
  }

  test("dedup_incremental_minhash: the delta batch dedups against the PERSISTED " +
       "corpus index (cross pairs through the parquet round trip, intra " +
       "pairs through the self-join); verdicts cover delta docs only") {
    val tmp = java.nio.file.Files.createTempDirectory("dupinc").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // +10001 keeps planted pairs CROSS-side: a mutated copy lands in the
    // delta (id % 10 == 7) exactly when its original (id % 10 == 6) is
    // in the corpus index — the index path, not the intra self-join
    val mutated = docs
      .withColumn("doc_id", col("doc_id") + 10001)
      .withColumn("text", concat(col("text"), lit(" trailing mutation")))
    docs.union(mutated).write.mode("overwrite")
      .parquet(s"$tmp/documents.parquet")
    val r = Dedup.dedupIncrementalMinhash(spark, tmp, threshold = 0.7).collect()
    // incremental semantics: verdicts for the delta ONLY
    assert(r.nonEmpty)
    assert(r.forall(row => row.getLong(0) % Dedup.IndexDeltaMod ==
      Dedup.IndexDeltaRem))
    val dupOf = r.filter(!_.getBoolean(3))
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    // every planted delta copy is FLAGGED, with dup_of <= its corpus
    // original: the original is always a verified partner (the planted
    // near-identical pair), and dup_of = min over partners — which may
    // be LOWER than the original when the corpus holds its own
    // near-dups of it (the real testdata does)
    val planted = docs.select(col("doc_id")).collect().map(_.getLong(0))
      .filter(id => (id + 10001) % Dedup.IndexDeltaMod == Dedup.IndexDeltaRem)
    assert(planted.nonEmpty)
    planted.foreach { orig =>
      assert(dupOf.get(orig + 10001).exists(_ <= orig),
        s"delta copy of corpus doc $orig not flagged against the index")
    }
    // the index really is the parquet artifact: read-back equals the
    // directly computed corpus bands, row for row
    val idx = spark.read.parquet(Dedup.minhashIndexPath(spark, tmp))
      .drop("pb") // layout bucket column, not part of the band schema
    val direct = Dedup.minhashBands(spark,
      spark.read.parquet(s"$tmp/documents.parquet")
        .filter(col("doc_id") % Dedup.IndexDeltaMod =!= Dedup.IndexDeltaRem))
    assert(idx.count() === direct.count())
    assert(idx.exceptAll(direct).isEmpty && direct.exceptAll(idx).isEmpty)
  }

  test("dedup_simhash flags near-identical docs") {
    val tmp = java.nio.file.Files.createTempDirectory("dup").toString
    withSynthDups(tmp)
    // appending two tokens shifts few simhash bits; allow a wider radius
    // and a lower bound — simhash is the coarsest of the dedup family
    val r = Dedup.dedupSimhash(spark, tmp, maxHamming = 6)
    assert(r.filter(col("dup_of").isNotNull).count() >= 300L)
  }

  test("dedup_ngram finds the corpus's real near-dup pairs") {
    val r = graft.operators.Dedup.dedupNgramJaccard(spark, dir, 0.8)
    assert(r.count() >= 1L)
    assert(r.filter(col("jaccard") < 0.8 || col("jaccard") > 1.0)
      .count() === 0L)
  }

  test("dedup_winnow catches near-duplicates via shared fingerprints") {
    val tmp = java.nio.file.Files.createTempDirectory("dup").toString
    withSynthDups(tmp)
    val r = Dedup.dedupWinnow(spark, tmp)
    // a trailing mutation shifts only the final winnowing windows, so the
    // mutated copies share nearly all fingerprints with their originals
    assert(r.filter(col("doc_id") >= 10000 &&
      col("dup_of") === col("doc_id") - 10000).count() >= 400L)
    assert(r.filter(col("keep") && col("doc_id") < 10000).count() >= 400L)
  }

  test("dedup_clusters: closure over verified pairs, canonical min root") {
    val tmp = java.nio.file.Files.createTempDirectory("dup").toString
    withSynthDups(tmp)
    val pairs = Dedup.dedupNgramJaccard(spark, tmp, 0.8)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length >= 400, s"expected synth dups, got ${pairs.length}")
    val clusters = Dedup.dedupClusters(spark, tmp, 0.8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // closure: both endpoints of every verified pair share a root
    pairs.foreach { case (a, b) =>
      assert(clusters(a)._1 === clusters(b)._1, s"split edge ($a,$b)")
    }
    // canonical root: min doc_id of the member set; size matches
    clusters.groupBy(_._2._1).foreach { case (root, members) =>
      assert(members.keys.min === root)
      assert(members.values.forall(_._2 === members.size.toLong))
    }
    // membership = exactly the docs that appear in some verified pair
    assert(clusters.keySet === pairs.flatMap(p => Seq(p._1, p._2)).toSet)
  }

  test("dedup_clusters: empty pair graph terminates with zero clusters") {
    // an impossible threshold yields no verified pairs — the LP loop must
    // converge on round one (observation over an empty frame) and return
    // an empty, correctly-shaped result, not hang or throw
    val r = Dedup.dedupClusters(spark, dir, threshold = 1.1)
    assert(r.columns.toSeq ===
      Seq("doc_id", "cluster_root", "cluster_size"))
    assert(r.count() === 0L)
  }

  test("dedup_clusters: reliable checkpoint path when a dir is set") {
    val base = Dedup.dedupClusters(spark, dir, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    spark.sparkContext.setCheckpointDir(ckpt)
    try {
      // same plan, but lineage truncation goes through reliable
      // checkpoint() files (the executor-loss-safe cluster path)
      val r = Dedup.dedupClusters(spark, dir, 0.8).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(r === base)
      // the checkpoint dir was used, and intermediates were cleaned up:
      // only the FINAL labels checkpoint may remain
      val rddDirs = java.nio.file.Files
        .walk(java.nio.file.Paths.get(ckpt))
        .filter(p => p.getFileName.toString.startsWith("rdd-"))
        .count()
      assert(rddDirs === 1,
        s"expected exactly the final checkpoint to survive, found $rddDirs")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("dedup_incremental: batch copy of an index doc flagged, both tiers") {
    // find doc_ids on each side of the md5 coin (the same arithmetic the
    // operator uses), plant an exact copy across the batch/index line
    def coin(id: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
    val batchId = (0L to 1000L)
      .find(coin(_) < graft.operators.Dedup.IncrementalBatchCoin).get
    val indexId = (0L to 1000L)
      .find(coin(_) >= graft.operators.Dedup.IncrementalBatchCoin).get
    val tmp = java.nio.file.Files.createTempDirectory("incr").toString
    spark.createDataFrame(Seq(
      (batchId, "the same exact document text repeated here"),
      (indexId, "the same exact document text repeated here")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = graft.operators.Dedup.dedupIncremental(spark, tmp).collect()
    // output = batch docs only
    assert(r.map(_.getLong(0)).toSet === Set(batchId), r.mkString(";"))
    val row = r.head
    assert(row.getLong(1) === indexId) // exact tier
    assert(row.getLong(2) === indexId) // near tier (hamming 0)
    assert(row.getInt(3) === 0)
    assert(!row.getBoolean(4))
  }

  test("dedup_embedding_lsh: flagged dups are true near-dups (precision 1)") {
    // every (vec_id, dup_of) verdict must hold under the EXACT cosine —
    // LSH bucketing may miss pairs (bounded recall) but must never
    // invent one
    val r = graft.operators.Dedup.dedupEmbeddingLsh(spark, dir)
      .filter(col("dup_of").isNotNull)
      .select(col("vec_id"), col("dup_of"), col("best_cos"))
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val checked = r
      .join(e.select(col("vec_id"), col("embedding").as("ea")), "vec_id")
      .join(e.select(col("vec_id").as("dup_of"), col("embedding").as("eb")),
        "dup_of")
      .withColumn("true_cos",
        graft.functions.VectorFunctions.cosine(col("ea"), col("eb")))
    assert(checked.filter(col("true_cos") < 0.4 - 1e-9).count() === 0L)
    // dup_of is always a smaller id (the canonical-representative rule)
    assert(r.filter(col("dup_of") >= col("vec_id")).count() === 0L)
  }

  test("dedup_semantic: verdicts hold under exact cosine, within-cluster only") {
    import graft.operators.Dedup
    val r = Dedup.dedupSemantic(spark, dir)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    assert(r.count() === e.count())
    val dups = r.filter(col("dup_of").isNotNull)
    assert(dups.count() > 0L, "threshold must fire on the synthetic corpus")
    // every flagged pair is a true semantic near-dup under exact cosine
    val checked = dups
      .join(e.select(col("vec_id"), col("embedding").as("ea")), "vec_id")
      .join(e.select(col("vec_id").as("dup_of"), col("embedding").as("eb")),
        "dup_of")
      .withColumn("true_cos",
        graft.functions.VectorFunctions.cosine(col("ea"), col("eb")))
    assert(checked.filter(col("true_cos") < Dedup.SemDedupCos - 1e-9)
      .count() === 0L)
    // canonical representative: dup_of is a smaller id, and the
    // representative is in the SAME cluster (the blocking invariant)
    assert(dups.filter(col("dup_of") >= col("vec_id")).count() === 0L)
    val cells = r.select(col("vec_id"), col("cell"))
    assert(dups.select(col("vec_id"), col("dup_of"))
      .join(cells, "vec_id")
      .join(cells.select(col("vec_id").as("dup_of"),
        col("cell").as("rep_cell")), "dup_of")
      .filter(col("cell") =!= col("rep_cell")).count() === 0L)
    // keep <-> no dup_of, exactly
    assert(r.filter(col("keep") === col("dup_of").isNotNull).count() === 0L)
  }

  test("vec_dot/vec_cosine/vec_l2sq: bit-identical to the HOF fold") {
    import graft.functions.{VectorFunctions => V}
    graft.functions.GraftFunctions.register(spark)
    // the interpreted formulation the codegen'd expressions replaced —
    // sequential left-to-right double fold
    def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val pairs = e.as("x").crossJoin(e.as("y"))
      .filter(col("x.vec_id") < col("y.vec_id")).limit(2000)
    val mism = pairs.select(
        V.dot(col("x.embedding"), col("y.embedding")).as("cd"),
        hofDot(col("x.embedding"), col("y.embedding")).as("hd"),
        V.cosine(col("x.embedding"), col("y.embedding")).as("cc"),
        (hofDot(col("x.embedding"), col("y.embedding")) /
          (sqrt(hofDot(col("x.embedding"), col("x.embedding"))) *
            sqrt(hofDot(col("y.embedding"), col("y.embedding"))))).as("hc"),
        V.l2sq(col("x.embedding"), col("y.embedding")).as("cl"),
        aggregate(zip_with(col("x.embedding"), col("y.embedding"),
          (x, y) => (x.cast("double") - y.cast("double")) *
            (x.cast("double") - y.cast("double"))),
          lit(0.0), (acc, x) => acc + x).as("hl"))
      .filter(col("cd") =!= col("hd") || col("cc") =!= col("hc") ||
        col("cl") =!= col("hl"))
    assert(mism.count() === 0L)
    // null / mismatch semantics mirror zip_with padding
    val edge = spark.sql(
      """SELECT vec_dot(array(1.0F, 2.0F), array(3.0F)) AS mismatch,
        |       vec_cosine(CAST(NULL AS ARRAY<FLOAT>), array(1.0F)) AS nul,
        |       vec_dot(array(), array()) AS empty""".stripMargin).collect()(0)
    assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.getDouble(2) === 0.0)
  }

  test("pii_redact: counts and hash react to injected PII") {
    val tmp = java.nio.file.Files.createTempDirectory("pii").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    docs.withColumn("text", when(col("doc_id") === 0,
        lit("mail me at a.b-c@test-site.org or ping 10.0.0.1 and 8.8.8.8"))
        .otherwise(col("text")))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = graft.operators.Curation.piiRedact(spark, tmp)
      .filter(col("doc_id") === 0).collect()(0)
    assert(r.getLong(1) === 1L) // n_emails
    assert(r.getLong(2) === 2L) // n_ips
    val plain = graft.operators.Curation.piiRedact(spark, tmp)
      .filter(col("doc_id") === 1).collect()(0)
    assert(r.getString(3) !== plain.getString(3))
  }

  test("decontaminate: a copied benchmark doc is flagged, bench excluded") {
    val tmp = java.nio.file.Files.createTempDirectory("decon").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // plant a copy of benchmark doc 97 under a fresh non-bench id
    val copy = docs.filter(col("doc_id") === 97)
      .withColumn("doc_id", lit(50001L))
    docs.union(copy).write.mode("overwrite")
      .parquet(s"$tmp/documents.parquet")
    val r = graft.operators.Curation.decontaminate(spark, tmp)
    assert(r.filter(col("doc_id") % 97 === 0).count() === 0L)
    val planted = r.filter(col("doc_id") === 50001L).collect()(0)
    assert(planted.getBoolean(2), planted.toString)
    assert(planted.getLong(1) >= 1L)
  }

  test("quality_repetition: looping text dropped, varied text kept") {
    val tmp = java.nio.file.Files.createTempDirectory("rep").toString
    // 10001: one bigram loop ("buy now" x 50) — top2_frac ~ 1.0;
    // 10002: a long distinct-token sequence — every n-gram unique
    spark.range(1).select(
      lit(10001L).as("doc_id"),
      lit(Seq.fill(50)("buy now").mkString(" ")).as("text"))
      .unionByName(spark.range(1).select(
        lit(10002L).as("doc_id"),
        lit((1 to 100).map(i => s"w$i").mkString(" ")).as("text")))
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = graft.operators.TextOps.qualityRepetition(spark, tmp).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(!r(10001L).getBoolean(4), r(10001L).toString)
    assert(r(10001L).getDouble(1) > 0.4) // top2_frac: "now buy"/"buy now"
    assert(r(10002L).getBoolean(4), r(10002L).toString)
    assert(r(10002L).getDouble(3) === 0.0) // no duplicated 5-gram
  }

  test("gram_top_frac / gram_dup_frac equal the exploded word_ngrams " +
       "aggregation, value for value (the in-row reduction is invisible)") {
    import graft.functions.{TextFunctions => T}
    graft.functions.GraftFunctions.register(spark)
    val toksDf = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
    for (nn <- Seq(2, 3, 5)) {
      val exploded = toksDf.filter(col("n") >= nn)
        .select(col("doc_id"), explode(
          call_function("word_ngrams", col("toks"), lit(nn))).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg((max(col("c")).cast("double") / sum(col("c")).cast("double"))
          .as("top"),
          (sum(when(col("c") >= 2, col("c")).otherwise(lit(0L)))
            .cast("double") / sum(col("c")).cast("double")).as("dup"))
      val inRow = toksDf.select(col("doc_id"),
        call_function("gram_top_frac", col("toks"), lit(nn)).as("top"),
        call_function("gram_dup_frac", col("toks"), lit(nn)).as("dup"))
        .filter(col("top").isNotNull)
      assert(inRow.exceptAll(exploded).count() === 0L, s"nn=$nn")
      assert(exploded.exceptAll(inRow).count() === 0L, s"nn=$nn")
      // the short-doc edge: fewer than nn tokens yields null, matching
      // the exploded form's absence
      val nulls = toksDf.filter(col("n") < nn).select(col("doc_id"),
        call_function("gram_top_frac", col("toks"), lit(nn)).as("t"))
      assert(nulls.filter(col("t").isNotNull).count() === 0L, s"nn=$nn")
    }
  }

  test("quality_model scores are probabilities consistent with keep") {
    val r = graft.operators.Curation.qualityModel(spark, dir)
    assert(r.filter(col("model_score") < 0.0 || col("model_score") > 1.0)
      .count() === 0L)
    // keep derives from the UNROUNDED score; at the 4-dp boundary the
    // rounded column may sit exactly on 0.5, so exclude the knife edge
    assert(r.filter(abs(col("model_score") - 0.5) > 1e-3 &&
      col("keep") =!= (col("model_score") > 0.5)).count() === 0L)
  }

  test("pack_sequences: contiguous per-lang layout, offsets within budget") {
    val r = graft.operators.Curation.packSequences(spark, dir).collect()
      .map(x => (x.getString(1), x.getLong(0), x.getLong(2),
        x.getLong(3), x.getLong(4)))
    assert(r.nonEmpty)
    val budget = graft.operators.Curation.PackBudget
    r.foreach { case (_, _, _, bin, off) =>
      assert(bin >= 0 && off >= 0 && off < budget)
    }
    // layout is contiguous: global start position of each doc equals the
    // running sum of token counts before it (per lang, doc_id order)
    r.groupBy(_._1).foreach { case (_, docs) =>
      var cum = 0L
      docs.sortBy(_._2).foreach { case (_, _, n, bin, off) =>
        assert(bin * budget + off === cum)
        cum += n
      }
    }
  }

  test("sample_stratified: deterministic, near target rates per language") {
    val a = graft.operators.Curation.sampleStratified(spark, dir)
    val b = graft.operators.Curation.sampleStratified(spark, dir)
    assert(a.collect().toSet === b.collect().toSet) // no RNG state
    val total = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = a.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    graft.operators.Curation.SampleFractions.foreach { case (lang, f) =>
      total.get(lang).filter(_ >= 20).foreach { n =>
        val rate = kept.getOrElse(lang, 0L).toDouble / n
        assert(math.abs(rate - f) < 0.25, s"$lang rate=$rate want≈$f")
      }
    }
  }

  test("dedup_containment: fires on the corpus; flagged doc verified exactly") {
    val out = graft.operators.Dedup.dedupContainment(spark, dir)
    val rows = out.collect()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(rows.length === docs.count())
    val flagged = rows.filter(!_.getAs[Boolean]("keep"))
    assert(flagged.nonEmpty, "no containment found on planted corpus")
    flagged.foreach(r => assert(r.getAs[Double]("best_cont") >=
      graft.operators.Dedup.ContainThreshold))
    // exact recompute for one flagged (a contained-in b) pair, sampled
    // grams as the operator defines them
    val r0 = flagged.minBy(_.getAs[Long]("doc_id"))
    val texts = docs.filter(col("doc_id").isin(r0.getAs[Long]("doc_id"),
        r0.getAs[Long]("contained_in")))
      .collect().map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("text"))
      .toMap
    def grams(t: String): Set[String] = {
      val s = t.trim.toLowerCase
      (0 to s.length - graft.operators.Dedup.ContainGramLen)
        .map(i => s.substring(i, i + graft.operators.Dedup.ContainGramLen))
        .toSet
        .filter(g => "0123".contains(
          org.apache.commons.codec.digest.DigestUtils.md5Hex(g).charAt(0)))
    }
    val ga = grams(texts(r0.getAs[Long]("doc_id")))
    val gb = grams(texts(r0.getAs[Long]("contained_in")))
    val cont = (ga & gb).size.toDouble / ga.size
    // contained_in is the LOWEST qualifying b, so this pair must itself
    // clear the threshold (best_cont may come from a different b)
    assert(cont >= graft.operators.Dedup.ContainThreshold,
      s"recomputed containment $cont")
  }

  test("containment prefix theorem: uncapped operator finds EVERY true containment") {
    // brute-force ground truth over the sampled gram sets, then assert
    // the prefix-filtered candidate generation (with the stop-gram df
    // cap lifted) misses nothing — the theorem's zero-false-negative
    // guarantee, verified end to end
    val q = graft.operators.Dedup.ContainGramLen
    val t = graft.operators.Dedup.ContainThreshold
    def grams(txt: String): Set[String] = {
      val s0 = txt.trim.toLowerCase
      (0 to s0.length - q).map(i => s0.substring(i, i + q)).toSet
        .filter(g => "0123".contains(
          org.apache.commons.codec.digest.DigestUtils.md5Hex(g).charAt(0)))
    }
    val gs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> grams(r.getString(1)))
      .filter(_._2.nonEmpty)
    val expected = (for {
      (a, ga) <- gs; (b, gb) <- gs
      if a != b && (ga & gb).size.toDouble >= t * ga.size
    } yield a).toSet
    val flagged = graft.operators.Dedup
      .dedupContainment(spark, dir, maxDf = Int.MaxValue)
      .filter(!col("keep")).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(flagged === expected)
  }

  test("containment mini-signature prefilter: prunes adversarial " +
       "sub-threshold candidates before the verify, losslessly") {
    import org.apache.commons.codec.digest.DigestUtils.md5Hex
    // Adversarial corpus for the PREFIX filter: a pool of rare-ish
    // chunks, each doc holding ~half of them, pads sandwiching every
    // chunk so junction grams are either chunk-owned (df ≈ ndocs/2,
    // under the stop-gram cap → they BLOCK) or pad-only (df = ndocs,
    // capped out). Every doc pair then shares blocking grams, so
    // candidate generation goes quadratic — while pairwise containment
    // sits near 0.5, far under the 0.8 threshold. Exactly the regime
    // the count-signature bound exists for. Three planted true
    // containments (chunk-subset docs) must survive the prefilter.
    val nDocs = 24
    val pad = "qqqqqqqqqqqqqqq" // 15 chars: no 16-gram is pad-internal
    val pool = (0 until 40).map(k => md5Hex(s"chunk:$k"))
    def chunksOf(i: Int): Seq[String] =
      pool.zipWithIndex.collect {
        case (c, k) if md5Hex(s"pick:$i:$k").charAt(0) < '8' => c
      }
    def textOf(cs: Seq[String]): String = cs.map(pad + _ + pad).mkString
    val base = (0 until nDocs).map(i => (i.toLong, textOf(chunksOf(i))))
    // true containments: docs 100..102 are chunk-subsets of docs 0..2
    val contained = (0 until 3).map(j =>
      ((100 + j).toLong, textOf(chunksOf(j).drop(2))))
    val tmp = java.nio.file.Files.createTempDirectory("contain_adv").toString
    import spark.implicits._
    (base ++ contained).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")

    val (_, candWith) = graft.operators.Dedup
      .containmentCandidates(spark, tmp, sigPrefilter = true)
    val (_, candWithout) = graft.operators.Dedup
      .containmentCandidates(spark, tmp, sigPrefilter = false)
    val nWith = candWith.count()
    val nWithout = candWithout.count()
    // the adversarial pairs reached candidacy without the signature...
    assert(nWithout > nDocs.toLong,
      s"plant failed: only $nWithout candidates without the prefilter")
    // ...and the signature killed the bulk of them before the verify
    assert(nWith * 2 < nWithout,
      s"prefilter barely pruned: $nWith of $nWithout")
    // lossless: the composed operator's verdicts equal the unfiltered
    // formulation's on this corpus, and the planted containments are
    // flagged with their true container
    val out = graft.operators.Dedup.dedupContainment(spark, tmp).collect()
    val flagged = out.filter(!_.getAs[Boolean]("keep"))
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("contained_in"))
      .toMap
    (0 until 3).foreach { j =>
      assert(flagged.get((100 + j).toLong).contains(j.toLong),
        s"planted containment ${100 + j} in $j not flagged: $flagged")
    }
    // every surviving candidate that passes the verify must also have
    // been reachable without the prefilter (with ⊆ without)
    val wSet = candWith.select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val woSet = candWithout.select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wSet.subsetOf(woSet))
  }

  test("containment positional filter: lossless against the " +
       "unfiltered prefix join; never admits a new pair") {
    // PPJoin's positional bound (1 + min(na-rn_a, nb-rn_b) >= t*na)
    // cuts candidates inside the prefix join, before the
    // distinct/signature tiers. Losslessness for TRUE pairs is the
    // argument on containmentCandidates (the first shared gram has
    // minimal df among shared grams, so it survives the df cap
    // whenever any shared gram does, sits in A's prefix by the prefix
    // theorem's pigeonhole, and makes the bound exact at its row) —
    // pinned end-to-end by the brute-force theorem test above, which
    // runs the composed operator. Here: the filtered candidate set is
    // a SUBSET of the unfiltered one on the base corpus, and every
    // verify-surviving verdict is identical under both settings. The
    // pruning magnitude is a scale measurement, not a unit property
    // (SCALING.md records the zipf-corpus candidate-volume cut).
    val (_, candPos) = graft.operators.Dedup
      .containmentCandidates(spark, dir, sigPrefilter = false)
    val (_, candNoPos) = graft.operators.Dedup
      .containmentCandidates(spark, dir, sigPrefilter = false,
        posFilter = false)
    val pSet = candPos.select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val npSet = candNoPos.select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pSet.subsetOf(npSet), "positional filter admitted a pair " +
      "the unfiltered join did not")
    // the LOSSLESS direction, pinned through the verify tier on this
    // corpus (not just the trivial subset property above): the
    // composed operator's VERDICT OUTPUT is identical with the
    // positional filter on and off — every pair the filter kills
    // would have died in the exact-intersection verify anyway
    val vOn = graft.operators.Dedup.dedupContainment(spark, dir)
    val vOff = graft.operators.Dedup.dedupContainment(spark, dir,
      posFilter = false)
    assert(vOn.exceptAll(vOff).count() === 0L)
    assert(vOff.exceptAll(vOn).count() === 0L)
    // the profile checkpoint's storage tier is a pure physical knob:
    // the serialized level (the measured cold-cliff escape, SCALING.md
    // r19) must produce the identical verdict frame
    import org.apache.spark.storage.StorageLevel
    val vSer = graft.operators.Dedup.dedupContainment(spark, dir,
      profileLevel = Some(StorageLevel.MEMORY_AND_DISK_SER))
    assert(vSer.exceptAll(vOn).count() === 0L)
    assert(vOn.exceptAll(vSer).count() === 0L)
    // the tier is ENGINE-decided when the caller pins none (vOn above
    // already ran the auto path): a profile that comfortably fits
    // stays deserialized, one whose estimated footprint crowds the
    // storage pool buys the serialized level — both branches pinned
    // through the estimate the decision actually reads (plan stats;
    // a triple cross join's size estimate exceeds any pool)
    val small = spark.read.parquet(s"$dir/documents.parquet")
    assert(graft.operators.Dedup.containProfileLevel(spark, small) ===
      StorageLevel.MEMORY_AND_DISK)
    val huge = small.crossJoin(small).crossJoin(small)
    assert(graft.operators.Dedup.containProfileLevel(spark, huge) ===
      StorageLevel.MEMORY_AND_DISK_SER)
  }

  test("dedup_segments: boilerplate removed, clean text stable, totals add up") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val out = graft.operators.Dedup.dedupSegments(spark, dir)
    val rows = out.collect()
    val nWithToks = docs.filter(length(trim(col("text"))) > 0).count()
    assert(rows.length === nWithToks)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_boiler") <= r.getAs[Long]("n_segs"))
      assert(r.getAs[String]("clean_md5").length === 32)
    }
    // the synthetic corpus plants cross-doc copies: boilerplate fires
    assert(rows.map(_.getAs[Long]("n_boiler")).sum > 0L)
    // a doc with zero boilerplate keeps its original token stream
    val clean = out.filter(col("n_boiler") === 0).limit(1)
      .collect().headOption
    clean.foreach { c =>
      val did = c.getAs[Long]("doc_id")
      val expected = docs.filter(col("doc_id") === did)
        .select(md5(concat_ws(" ",
          graft.functions.TextFunctions.tokens(col("text")))))
        .collect()(0).getString(0)
      assert(c.getAs[String]("clean_md5") === expected)
    }
  }

  test("fuzzy_join: corrupted probes link back to their source entity") {
    val out = graft.operators.EntityResolution.fuzzyJoin(spark, dir)
    val parts = spark.read.parquet(s"$dir/part.parquet")
      .select(col("p_partkey").as("probe_id"), col("p_name"))
    val joined = out.join(parts, "probe_id").collect()
    assert(joined.nonEmpty)
    val matched = joined.count(_.getAs[Boolean]("matched"))
    assert(matched === joined.length,
      s"only $matched of ${joined.length} probes matched")
    // a single deletion is lev 1 from the source name; best-match should
    // recover the original almost always (ties with another catalog name
    // at equal distance are possible but rare)
    val exact = joined.count(r =>
      r.getAs[String]("match_name") == r.getAs[String]("p_name"))
    assert(exact.toDouble / joined.length >= 0.9,
      s"only $exact of ${joined.length} probes recovered their source")
    joined.foreach(r => assert(r.getAs[Long]("lev") <=
      graft.operators.EntityResolution.MaxEdit))
  }

  test("embedding_centroids: decimal means match a locally computed mean") {
    val out = graft.operators.Ann.embeddingCentroids(spark, dir)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val dims = emb.select(size(col("embedding"))).first().getInt(0)
    val labels = emb.select(countDistinct(col("label"))).first().getLong(0)
    assert(out.count() === labels * dims)
    // pick one (label, dim) cell and recompute its mean driver-side
    val l0 = emb.select(min(col("label"))).first().getInt(0)
    val vs = emb.filter(col("label") === l0)
      .select(col("embedding").getItem(0)).collect().map(_.getFloat(0))
    val expected = vs.map(v => BigDecimal(v.toString)
      .setScale(7, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
    val row = out.filter(col("label") === l0 && col("dim") === 0).first()
    assert(row.getAs[Long]("n") === vs.length.toLong)
    assert(row.getAs[Double]("sum_v") === expected,
      s"got ${row.getAs[Double]("sum_v")} want $expected")
  }

  test("heavy_hitters: k rows, non-increasing counts, true top token") {
    val out = graft.operators.TextOps.heavyHitters(spark, dir).collect()
    val vocab = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(graft.functions.TextFunctions.tokens(col("text")))
        .as("t")).distinct().count()
    assert(out.length ===
      math.min(graft.operators.TextOps.HeavyHittersK.toLong, vocab))
    val counts = out.map(_.getAs[Long]("cnt"))
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b })
    val trueTop = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(graft.functions.TextFunctions.tokens(col("text")))
        .as("t")).groupBy("t").count()
      .orderBy(col("count").desc).first()
    assert(out.head.getAs[String]("token") === trueTop.getString(0))
    assert(counts.head === trueTop.getLong(1))
  }

  test("sample_exact_k: exactly k rows, deterministic, coin-ordered") {
    val a = graft.operators.Curation.sampleExactK(spark, dir).collect()
    val b = graft.operators.Curation.sampleExactK(spark, dir).collect()
    assert(a.length === graft.operators.Curation.ExactSampleK)
    assert(a.map(_.getAs[Long]("doc_id")).toSeq ===
      b.map(_.getAs[Long]("doc_id")).toSeq)
    val coins = a.map(_.getAs[String]("coin"))
    assert(coins.zip(coins.tail).forall { case (x, y) => x <= y })
  }

  test("lang_sample: tempered rates downsample the head, keep the tail") {
    val a = graft.operators.Curation.langSample(spark, dir)
    val b = graft.operators.Curation.langSample(spark, dir)
    assert(a.collect().toSet === b.collect().toSet) // no RNG state
    val rates = a.groupBy("lang").agg(first("rate").as("rate"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val counts = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val head = counts.maxBy(_._2)._1
    val tail = counts.minBy(_._2)._1
    assert(rates.values.forall(r => r > 0.0 && r <= 1.0))
    // alpha < 1 tempering: the dominant language is cut harder than the
    // rarest one
    assert(rates(head) < rates(tail),
      s"head $head=${rates(head)} not below tail $tail=${rates(tail)}")
    // overall kept mass lands near the budget (md5 coin is uniform)
    val keptFrac = a.filter(col("keep")).count().toDouble / a.count()
    assert(math.abs(keptFrac - graft.operators.Curation.SampleBudgetFrac)
      < 0.15, s"kept fraction $keptFrac")
  }

  test("ann_lsh results are a subset-quality approximation of bruteforce") {
    val exact = Ann.annBruteforce(spark, dir)
      .select(col("q_id"), col("cand_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Ann.annLsh(spark, dir)
      .select(col("q_id"), col("cand_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.nonEmpty)
    val recall = (exact & approx).size.toDouble / exact.size
    // calibrated floor — see the measured table at Ann.LshRecallMin
    // (3 tables x depth-2 multiprobe: 0.88-0.96 measured across SFs;
    // deterministic seeded planes, so this is exact, not flaky)
    assert(recall >= Ann.LshRecallMin, s"recall=$recall")
  }

  test("knn_graph_bucketed: full-corpus coverage, recall floor vs the " +
       "exact strided graph, k-bound per node") {
    val bucketed = Ann.knnGraphBucketed(spark, dir)
    val rows = bucketed.collect()
    // full coverage: every corpus node appears as a source (the
    // multiprobe expansion guarantees at least the self-bucket probe,
    // and no bucket is empty of other members at these SFs)
    val nCorpus = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(rows.map(_.getLong(0)).distinct.length.toLong === nCorpus)
    // k-bound: at most KnnK edges per node, ranks 1..k contiguous
    rows.groupBy(_.getLong(0)).foreach { case (_, es) =>
      assert(es.length <= Ann.KnnK)
      assert(es.map(_.getLong(1)).sorted.toSeq ===
        (1L to es.length.toLong))
    }
    // recall vs the exact graph on the stride subset — measured
    // 0.904/0.912/0.938 across SFs (see Ann.KnnGraphRecallMin)
    val exact = Ann.knnGraph(spark, dir)
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = rows.filter(r => r.getLong(0) % Ann.KnnStride == 0)
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= Ann.KnnGraphRecallMin, s"recall=$recall")
    // srcStride audit slice == the full graph filtered to the same
    // sources, row for row: per-source independence (a source's top-K
    // sees only its own probes and the unchanged capped corpus side)
    // is what makes the ×100 recall audit disk-feasible, so pin it
    val sliced = Ann.knnGraphBucketed(spark, dir,
        srcStride = Ann.KnnStride.toLong)
      .collect().map(_.toSeq)
      .sortBy(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long]))
    val filtered = rows.filter(_.getLong(0) % Ann.KnnStride == 0)
      .map(_.toSeq)
      .sortBy(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long]))
    assert(sliced.nonEmpty)
    assert(sliced === filtered)
  }

  test("knnRefineRound: one NN-descent round is well-formed, per-source " +
       "independent (audit slice == full-graph filter), and can only " +
       "raise recall (candidate superset + exact re-scoring)") {
    val stride = Ann.strideFor(Ann.corpusCount(spark, dir))
    // full-graph path: neighbor lists come from the base itself
    val baseFull = Ann.knnGraphBucketedBase(spark, dir,
      k = Ann.KnnRefineFan)
    val refFull = Ann.knnRefineRound(spark, dir, baseFull,
      0, Ann.LshProbeBits, 0).collect()
    // k-bound and contiguous ranks survive the refinement re-rank
    refFull.groupBy(_.getLong(0)).foreach { case (_, es) =>
      assert(es.length <= Ann.KnnK)
      assert(es.map(_.getLong(1)).sorted.toSeq === (1L to es.length.toLong))
    }
    // audit path: neighbor lists come from a SECOND bucketed run
    // restricted to the candidate ids — must equal the full graph
    // filtered to the audited sources, row for row
    val baseAudit = Ann.knnGraphBucketedBase(spark, dir,
      srcStride = stride, k = Ann.KnnRefineFan)
    val refAudit = Ann.knnRefineRound(spark, dir, baseAudit,
      0, Ann.LshProbeBits, stride)
      .collect().map(_.toSeq)
      .sortBy(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long]))
    val fullSliced = refFull.filter(_.getLong(0) % stride == 0)
      .map(_.toSeq)
      .sortBy(r => (r.head.asInstanceOf[Long], r(1).asInstanceOf[Long]))
    assert(refAudit.nonEmpty)
    assert(refAudit === fullSliced)
    // recall monotonicity is DETERMINISTIC, not statistical: refined
    // candidates ⊇ base pairs and both rank by the exact rounded
    // cosine, so a true-positive can only be displaced by another
    // true-positive — assert it anyway (the property the ×100
    // shortfall buy-back rests on)
    val exact = Ann.knnGraph(spark, dir)
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val base5 = Ann.knnGraphBucketed(spark, dir)
      .filter(col("src") % stride === 0)
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ref5 = refAudit.map(r => (r.head.asInstanceOf[Long],
      r(2).asInstanceOf[Long])).toSet
    val baseRecall = (exact & base5).size.toDouble / exact.size
    val refRecall = (exact & ref5).size.toDouble / exact.size
    assert(refRecall >= baseRecall,
      s"refined $refRecall < base $baseRecall")
    // and the expansion genuinely added scored candidates somewhere
    // (fan 10 > K guarantees two-hop pairs exist on this corpus)
    assert(refRecall > 0.0)
  }

  /** A non-calibrated-regime corpus (n > 2048 so bitsFor widens and the
    * autotuner actually runs): `nCluster` identical vectors (their true
    * top-K are siblings, but identical vectors sign identically under
    * EVERY table's planes, so their cells exceed the degenerate-cell
    * cap at any table count and recall is STRUCTURALLY capped below
    * the floor) interleaved with seeded background gaussians.
    */
  private def autotuneCorpus(tag: String, nCluster: Int): String = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory(tag).toString
    val rnd = new scala.util.Random(23)
    val n = 5000
    val hot = Array.fill(64)(rnd.nextGaussian().toFloat)
    val rows = (0 until n).map { i =>
      val v = if (i >= n - nCluster) hot.clone()
      else {
        // benign structure: 250 tight clusters of ~20 (under the cell
        // cap), so true neighbors are high-cosine siblings LSH finds
        // at a small table count — the floor is genuinely met
        val cRnd = new scala.util.Random(100 + i % 250)
        val center = Array.fill(64)(cRnd.nextGaussian())
        Array.tabulate(64)(d =>
          (center(d) + 0.08 * rnd.nextGaussian()).toFloat)
      }
      (i.toLong, v, 0)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    tmp
  }

  test("ann autotune: on a corpus whose recall floor the ladder " +
       "structurally misses, the tuner stops at the cap and enables " +
       "the refinement round; a benign corpus meets the floor below it") {
    import graft.operators.Ann
    // adversarial corpus: 2000 of 5000 vectors identical → ≥40% of
    // exact edges live in cap-dropped cells, recall ≤ ~0.6 < 0.85 at
    // every rung
    val dirA = autotuneCorpus("autotuneA", 2000)
    val tA = Ann.tablesFor(spark, dirA)
    // cap-and-report: the tuner stops at the ladder max and flags the
    // shortfall for the refinement round
    assert(tA === Ann.AutoTablesLadder.max, s"chose $tA")
    assert(Ann.refineFor(spark, dirA),
      "a structural miss must set the refinement verdict")
    // benign corpus: the floor is met inside the ladder
    val dirC = autotuneCorpus("autotuneC", 0)
    val tC = Ann.tablesFor(spark, dirC)
    assert(tC < Ann.AutoTablesLadder.max,
      s"benign corpus unexpectedly at the cap ($tC) — floor not met?")
    assert(!Ann.refineFor(spark, dirC))
  }

  /** Scala mirror of V.hyperplaneBucket for [[cellCapCorpus]]: bit j set
    * iff the sequential widened-double dot with table t's plane j is
    * strictly positive — the exact expression semantics.
    */
  private def lshBucketOf(v: Array[Float], t: Int): Long = {
    val pl = Ann.planes(Ann.LshBits, 64, Ann.lshSeed(t))
    (0 until Ann.LshBits).map { j =>
      var s = 0.0
      var i = 0
      while (i < 64) { s += v(i).toDouble * pl(j)(i); i += 1 }
      if (s > 0.0) 1L << j else 0L
    }.sum
  }

  /** Writes background + planted embeddings as a corpus dir and returns
    * (dir, planted vectors by id). Background: 200 seeded gaussians, ids
    * 0..199. Planted: 210 vectors from `mk`, ids 1000..1209.
    */
  private def cellCapCorpus(tag: String, mk: (Int, scala.util.Random)
      => Array[Float]): (String, Map[Long, Array[Float]]) = {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory(tag).toString
    val rnd = new scala.util.Random(11)
    def gauss(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val background = (0 until 200).map(i => (i.toLong, gauss(), 0))
    val planted = (0 until 210).map(i => (1000L + i, mk(i, rnd), 1))
    (background ++ planted).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    (tmp, (background ++ planted).map(r => r._1 -> r._2).toMap)
  }

  test("knn_graph_bucketed cell cap BINDS: a mass of identical vectors " +
       "is dropped in-plan instead of going quadratic") {
    // 210 exact copies sign identically under EVERY table's planes, so
    // all three (tbl, bucket) cells of the cluster exceed the cap
    // (threshold = greatest(200, 410*8 DIV 64) = 200 < 210) and the
    // in-plan guard must drop them all. Without the cap every planted
    // node's entire top-5 would be planted siblings at cosine 1.0 — so
    // ZERO planted->planted edges is the cap's unambiguous signature.
    val rnd0 = new scala.util.Random(17)
    val base = Array.fill(64)(rnd0.nextGaussian().toFloat)
    val (tmp, _) = cellCapCorpus("capbind", (_, _) => base.clone())
    val edges = Ann.knnGraphBucketed(spark, tmp).collect()
    val planted2planted = edges.count(r =>
      r.getLong(0) >= 1000L && r.getLong(2) >= 1000L)
    assert(planted2planted === 0, s"$planted2planted sibling edges " +
      "survived — the degenerate cells were not dropped")
    // the guard is a targeted drop, not a graph-wide outage: planted
    // nodes still reach background neighbors through probe buckets, and
    // background nodes keep their edges
    val plantedSrcs = edges.map(_.getLong(0)).distinct.count(_ >= 1000L)
    assert(plantedSrcs >= 200, s"only $plantedSrcs planted sources")
    assert(edges.map(_.getLong(0)).distinct.count(_ < 1000L) >= 190)
  }

  test("knn_graph_bucketed cell cap: a DIVERSE one-table pileup loses " +
       "only that table, and the other tables preserve recall") {
    // Rejection-sample diverse vectors conditioned on table 0's bucket:
    // the (0, B) cell piles past the cap and is dropped, while the same
    // vectors spread normally under tables 1-2 (independent planes) —
    // the docstring's 'degenerate, not duplicate, clusters; the other
    // tables still cover their members' claim, exercised.
    val rnd0 = new scala.util.Random(17)
    val seed = Array.fill(64)(rnd0.nextGaussian().toFloat)
    val targetB = lshBucketOf(seed, 0)
    val (tmp, vecs) = cellCapCorpus("capdiv", (_, rnd) => {
      var v = Array.fill(64)(rnd.nextGaussian().toFloat)
      while (lshBucketOf(v, 0) != targetB)
        v = Array.fill(64)(rnd.nextGaussian().toFloat)
      v
    })
    // construction sanity, recomputed per table: ONLY (0, targetB) is
    // over the 200-row threshold
    val cellSizes = (0 until 3).map { t =>
      t -> vecs.values.toSeq.groupBy(lshBucketOf(_, t))
        .view.mapValues(_.size).toMap
    }.toMap
    assert(cellSizes(0)(targetB) > 200)
    for (t <- 0 until 3; (b, n) <- cellSizes(t)
         if (t, b) != ((0, targetB)))
      assert(n <= 200, s"cell ($t, $b) unexpectedly degenerate: $n")
    val edges = Ann.knnGraphBucketed(spark, tmp).collect()
    // exact ground truth, brute-force over the 410-vector corpus
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      var i = 0
      while (i < 64) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / math.sqrt(na * nb)
    }
    val plantedIds = vecs.keys.filter(_ >= 1000L).toSeq
    val exact = plantedIds.flatMap { src =>
      vecs.toSeq.filter(_._1 != src)
        .map { case (dst, v) =>
          (src, dst, BigDecimal(cos(vecs(src), v))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .sortBy { case (_, dst, c) => (-c, dst) }
        .take(Ann.KnnK).map { case (s2, d2, _) => (s2, d2) }
    }.toSet
    val approx = edges.filter(_.getLong(0) >= 1000L)
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // measured 0.838 on this seeded corpus (deterministic); floor with
    // margin — two surviving tables + probes keep the planted set's
    // recall near the 3-table operating point
    assert(recall >= 0.75, s"recall=$recall")
  }

  test("ann_recall emits a TRUE verdict per method (the oracle's claim)") {
    val rows = Ann.annRecall(spark, dir).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(rows == Map("lsh" -> true, "ivf" -> true, "pq" -> true,
      "knn_lsh" -> true), rows)
  }

  test("ann_ivf probes cells and recalls a meaningful top-k fraction") {
    val exact = Ann.annBruteforce(spark, dir)
      .select(col("q_id"), col("cand_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ann.annIvf(spark, dir)
    val rows = ivf.collect()
    assert(rows.nonEmpty)
    val approx = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // calibrated floor — 0.85-0.89 measured across SFs at nProbe=8 of 16
    // (see Ann.IvfRecallMin; seeded KMeans, so exact per dataset)
    assert(recall >= Ann.IvfRecallMin, s"recall=$recall")
    // every query probes nProbe of 16 cells: candidates bounded
    assert(ivf.select("cell").distinct().count() <= 16L)
  }

  test("ann_ivfpq: probed cells + ADC codes + refine recall the true " +
       "top-k (the FAISS IVFADC composition)") {
    val exact = Ann.annBruteforce(spark, dir)
      .select(col("q_id"), col("cand_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = Ann.annIvfPq(spark, dir).collect()
    assert(rows.nonEmpty)
    val approx = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // measured 0.75/0.81/0.64 across SFs — the intersection of IVF's
    // probe loss and PQ's quantization loss (see Ann.IvfPqRecallMin)
    assert(recall >= Ann.IvfPqRecallMin, s"recall=$recall")
    // the refine emits both distances, k-bounded per query
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.length <= Ann.K) }
  }

  test("ann_pq: codes shortlist + exact refine recalls the true top-k") {
    val exact = Ann.annBruteforce(spark, dir)
      .select(col("q_id"), col("cand_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Ann.annPq(spark, dir).collect()
    assert(pq.nonEmpty)
    val approx = pq.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    // calibrated floor — 0.86 / 0.87 / 0.70 measured at sf0.001/0.01/0.1
    // (shortlist 100 of a growing corpus; seeded fits, so exact per
    // dataset). PQ-only top-10 without the refine measured 0.20-0.31 —
    // the shortlist+refine IS the operator's design, not a tweak.
    assert(recall >= Ann.PqRecallMin, s"recall=$recall")
    // refine can only reorder within the ADC shortlist: per query at
    // most K rows, each carrying both distances
    pq.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.length <= Ann.K)
    }
  }

  test("ann_bruteforce ranks by cosine descending per query") {
    val rows = Ann.annBruteforce(spark, dir)
      .orderBy("q_id", "rank").collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sims = rs.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(sims.sameElements(sims.sortWith(_ > _)) || sims.length <= 1 ||
        sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("lang_id predicts a known language label") {
    val langs = TextOps.langId(spark, dir).select("lang_pred")
      .distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "fr", "es", "de", "zh")))
  }

  test("rabin fingerprint: equal strings collide, k-gram change diverges") {
    val a = "the quick brown fox jumps over the lazy dog".getBytes
    val b = "the quick brown fox jumps over the lazy cat".getBytes
    assert(RabinHash.minKgram(a, 8) === RabinHash.minKgram(a.clone, 8))
    val wa = RabinHash.winnow(a, 8, 16).toSet
    val wb = RabinHash.winnow(b, 8, 16).toSet
    assert(wa.nonEmpty && wb.nonEmpty)
    assert(RabinHash.winnow(Array.emptyByteArray, 8, 16).isEmpty)
  }

  test("multimodal features: histogram normalized, frames sampled") {
    val r = Multimodal.multimodalFeaturesRaw(spark, dir)
      .select(col("doc_id"),
        aggregate(col("hist"), lit(0.0), (a, x) => a + x).as("hsum"),
        size(col("frames")).as("nf"), col("thumb_w"), col("thumb_h"))
    assert(r.filter(abs(col("hsum") - 1.0) > 1e-9).count() === 0L)
    assert(r.filter(col("nf") =!= 5).count() === 0L)
    assert(r.filter(col("thumb_w") > 128 || col("thumb_h") > 128)
      .count() === 0L)
    // the synthetic text payloads are NOT decodable images — all of them
    // must have gone through the declared fallback, none silently "real"
    assert(Multimodal.multimodalFeaturesRaw(spark, dir)
      .filter(col("decoded")).count() === 0L)
  }

  test("multimodal checked slice: one row per doc, all fallback-routed, " +
       "byte samples within range") {
    val r = Multimodal.multimodalFeaturesChecked(spark, dir)
    val n = r.count()
    assert(n === spark.read.parquet(s"$dir/documents.parquet").count())
    assert(r.filter(col("decoded")).count() === 0L)
    // frame samples are byte values: 5 comma-joined ints in 0..255
    val bad = r.filter(!col("frames").rlike(
      "^([0-9]|[1-9][0-9]|1[0-9][0-9]|2[0-4][0-9]|25[0-5])(," +
      "([0-9]|[1-9][0-9]|1[0-9][0-9]|2[0-4][0-9]|25[0-5])){4}$"))
    assert(bad.count() === 0L)
    // since r10 the checked slice also carries hist_0..15 + ahash: the
    // 16 bins must sum to exactly-representable 1 (count/n partitions)
    // for any non-empty payload — an EMPTY payload's histogram is
    // defined as all zeros (the oracle's greatest(n,1) denominator),
    // so the sum contract is 1 when n_bytes > 0, 0 otherwise — and
    // the exported ahash must equal ahashOf recomputed from the
    // exported grid string — the oracle checks both against DuckDB;
    // this pins the Spark-side export to the decode path's own values
    val histSum = (0 until 16).map(j => col(s"hist_$j")).reduce(_ + _)
    assert(r.filter(when(col("n_bytes") > 0, abs(histSum - 1.0) > 1e-9)
      .otherwise(histSum =!= 0.0)).count() === 0L)
    r.select(col("grid"), col("ahash")).collect().foreach { row =>
      val grid = row.getString(0).split(",").map(_.toLong)
      assert(Multimodal.ahashOf(grid) === row.getLong(1))
    }
  }

  test("ahash: flat grids (empty/undecoded/uniform) fingerprint to 0, " +
       "not all-ones") {
    // empty payload and uniformly dark/bright rasters carry no structure;
    // hashing them 0xFFFF... would cluster them with dark images in the
    // pigeonhole dedup tier
    assert(Multimodal.ahashOf(Array.fill(64)(0L)) === 0L)
    assert(Multimodal.ahashOf(Array.fill(64)(255L)) === 0L)
    // a structured grid still hashes by the >= mean rule
    val half = (0 until 64).map(g => if (g % 8 < 4) 0L else 255L).toArray
    assert(Multimodal.ahashOf(half) === 0xF0F0F0F0F0F0F0F0L)
  }

  test("chunk_documents: coverage, overlap, and budget invariants") {
    import graft.operators.Curation.{ChunkSize, ChunkStride}
    val chunks = graft.operators.Curation.chunkDocuments(spark, dir)
    // every chunk respects the token budget and is non-empty
    assert(chunks.filter(col("n_chunk_tokens") > ChunkSize ||
      col("n_chunk_tokens") === 0).count() === 0L)
    // chunk starts advance by exactly the stride, from zero
    assert(chunks.filter(col("start") =!=
      col("chunk_id") * ChunkStride).count() === 0L)
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("t"))
      .select(col("doc_id"), size(col("t")).as("n")).filter(col("n") > 0)
    // exact chunk lengths: every chunk holds min(n - start, ChunkSize)
    val wrongLen = chunks.join(toks, "doc_id")
      .filter(col("n_chunk_tokens") =!=
        least(col("n") - col("start"), lit(ChunkSize)))
    assert(wrongLen.count() === 0L)
    // no redundant tail: a non-first chunk always adds new tokens (its
    // predecessor ends at start + overlap, which must be short of n)
    val redundant = chunks.join(toks, "doc_id")
      .filter(col("chunk_id") > 0 &&
        col("start") + graft.operators.Curation.ChunkOverlap >= col("n"))
    assert(redundant.count() === 0L)
    // full coverage: strides + last chunk reach every doc's token count
    val cover = chunks.groupBy(col("doc_id"))
      .agg(max(col("start") + col("n_chunk_tokens")).as("covered"))
      .join(toks, "doc_id")
      .filter(col("covered") =!= col("n"))
    assert(cover.count() === 0L)
  }

  test("split_assign: complete, disjoint, stable under corpus growth") {
    val r = graft.operators.Curation.splitAssign(spark, dir)
    val total = spark.read.parquet(s"$dir/documents.parquet").count()
    // complete and disjoint: exactly one split per document
    assert(r.count() === total)
    assert(r.groupBy("doc_id").count().filter(col("count") > 1)
      .count() === 0L)
    // holdouts exist and are minorities; train dominates
    val bySplit = r.groupBy("split").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(bySplit("train") > total * 8 / 10)
    assert(bySplit.getOrElse("val", 0L) + bySplit.getOrElse("test", 0L) <
      total / 5)
    // stability: a doc's split depends only on its own id — adding docs
    // (the synth-dup corpus doubles the table) never reassigns existing
    // ones
    val tmp = java.nio.file.Files.createTempDirectory("split").toString
    withSynthDups(tmp)
    val grown = graft.operators.Curation.splitAssign(spark, tmp)
      .withColumnRenamed("split", "split2")
    assert(r.join(grown, Seq("doc_id"))
      .filter(col("split") =!= col("split2")).count() === 0L)
  }

  test("ann_autotune: full ladder, recall monotone in nprobe, max rung " +
       "meets the ivf floor, chosen is the smallest sufficient rung") {
    val rows = Ann.annAutoProbe(spark, dir).collect()
      .map(r => (r.getAs[Int]("nprobe"), r.getAs[Double]("recall"),
        r.getAs[Boolean]("meets"), r.getAs[Boolean]("chosen")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq === Ann.ProbeLadder)
    // a candidate visible at probe rank p is visible at every deeper
    // rung, so recall can only grow with nprobe
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 <= b._2, s"recall not monotone: $a -> $b")
    }
    // the deepest rung IS annIvf's operating point — it must clear the
    // same floor ann_recall gates ivf on
    assert(rows.last._2 >= Ann.IvfRecallMin, rows.mkString(", "))
    // meets/chosen bookkeeping: chosen = first meeting rung, unique
    rows.foreach { case (_, rec, meets, _) =>
      assert(meets === (rec >= Ann.AutoProbeTarget))
    }
    val meeting = rows.filter(_._3).map(_._1)
    val chosen = rows.filter(_._4).map(_._1)
    if (meeting.isEmpty) assert(chosen.isEmpty)
    else assert(chosen.toSeq === Seq(meeting.min), rows.mkString(", "))
  }

  test("shuffle_shards: a complete balanced permutation with contiguous " +
       "in-shard positions, reproducible, and decorrelated from doc order") {
    val r = graft.operators.Curation.shuffleShards(spark, dir).cache()
    try {
      val total = spark.read.parquet(s"$dir/documents.parquet").count()
      // complete: every doc exactly once
      assert(r.count() === total)
      assert(r.select("doc_id").distinct().count() === total)
      // balanced: two uniform hex digits mod 8 — no shard may deviate
      // far from n/8 (3x is far outside any binomial tail at n=500)
      val sizes = r.groupBy("shard").count().collect()
        .map(x => x.getInt(0) -> x.getLong(1)).toMap
      assert(sizes.keySet === (0 until
        graft.operators.Curation.NumShuffleShards).toSet)
      val expect = total / graft.operators.Curation.NumShuffleShards
      sizes.values.foreach(n => assert(n < expect * 3 && n > expect / 3,
        sizes.toString))
      // positions are 1..count contiguous within each shard
      val badPos = r.groupBy("shard")
        .agg(min("pos").as("lo"), max("pos").as("hi"),
          count(lit(1)).as("n"))
        .filter(col("lo") =!= 1L || col("hi") =!= col("n")).count()
      assert(badPos === 0L)
      // reproducible: the permutation is a pure function of (seed, id)
      val again = graft.operators.Curation.shuffleShards(spark, dir)
      assert(r.except(again).count() === 0L)
      assert(again.except(r).count() === 0L)
      // decorrelated: consecutive doc_ids must not stay neighbors —
      // within a shard, the mean |id gap| between successive positions
      // is ~uniform-random (≈ n/3 for ids 0..n), far above the source
      // order's gap of ~NumShuffleShards
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("shard").orderBy("pos")
      val meanGap = r
        .withColumn("gap", abs(col("doc_id") - lag("doc_id", 1).over(w)))
        .agg(avg("gap")).collect()(0).getDouble(0)
      assert(meanGap > total / 10.0, s"meanGap=$meanGap — not shuffled")
    } finally { r.unpersist(); () }
  }

  test("quantize_embeddings: int8 range and error bound") {
    val r = Ann.quantizeEmbeddings(spark, dir)
      .withColumn("qs", split(col("q"), ","))
      .select(col("vec_id"), col("scale"), col("max_err"),
        array_max(transform(col("qs"), x => abs(x.cast("int")))).as("qabs"))
      .collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getInt(3) <= 127)
      // dequantization error of round-half-up is at most 0.5/scale
      // (+ rounding slack on the reported value)
      if (row.getDouble(1) > 0)
        assert(row.getDouble(2) <= 0.5 / row.getDouble(1) + 1e-4)
    }
  }

  test("multimodal: real PNG payload decodes through ImageIO") {
    import java.awt.image.BufferedImage
    // 8x8 PNG: left half pure black (luminance 0 -> bin 0), right half
    // pure white (luminance 255 -> bin 15)
    val img = new BufferedImage(8, 8, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 8)
      img.setRGB(x, y, if (x < 4) 0x000000 else 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, png, "image/png", 999, 999),
      org.apache.spark.sql.Row(2L, "not an image".getBytes, "image/png",
        10, 10),
      org.apache.spark.sql.Row(3L, png, "video/mp4", 10, 10))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, payload BINARY, mime STRING, width INT, height INT")
    val media = spark.createDataFrame(rows, schema)
    val out = Multimodal.extractFeatures(spark, media).collect()
      .map(r => r.getLong(0) -> r).toMap
    val real = out(1L)
    assert(real.getBoolean(real.fieldIndex("decoded")))
    // true dims from the raster override the (bogus) metadata claim
    assert(real.getInt(real.fieldIndex("thumb_w")) === 8)
    assert(real.getInt(real.fieldIndex("thumb_h")) === 8)
    val hist = real.getSeq[Double](real.fieldIndex("hist"))
    assert(math.abs(hist(0) - 0.5) < 1e-9 &&
      math.abs(hist(15) - 0.5) < 1e-9)
    assert(hist.slice(1, 15).forall(_ === 0.0))
    // frame samples are pixel luminances: raster positions 0,16,32,48,63
    // → x = 0,0,0,0,7 → black,black,black,black,white
    assert(real.getSeq[Long](real.fieldIndex("frames")) ===
      Seq(0L, 0L, 0L, 0L, 255L))
    // REAL pixel resize: on an 8x8 raster the nearest-neighbor 8x8 grid
    // is the identity — left half 0, right half 255, row-major
    val grid = real.getSeq[Long](real.fieldIndex("grid"))
    assert(grid === (0 until 64).map(g =>
      if (g % 8 < 4) 0L else 255L))
    // aHash: mean = 32*255/64 = 127 (floor); bits set where lum >= 127
    // → the high nibble of every row byte → 0xF0 repeated
    assert(real.getLong(real.fieldIndex("ahash")) === 0xF0F0F0F0F0F0F0F0L)
    // undecodable "image" and non-image mime both take the fallback
    assert(!out(2L).getBoolean(out(2L).fieldIndex("decoded")))
    assert(!out(3L).getBoolean(out(3L).fieldIndex("decoded")))
  }

  /** Minimal valid MP4: ftyp + moov{mvhd, video trak, audio trak}. */
  private def mp4Bytes(tkhdV1: Boolean = false): Array[Byte] = {
    def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(typ: String, body: Array[Byte]): Array[Byte] =
      be32(8L + body.length) ++ typ.getBytes("ISO-8859-1") ++ body
    val ftyp = box("ftyp",
      "isom".getBytes ++ be32(512) ++ "iso2avc1".getBytes)
    // mvhd v0: flags, ctime, mtime, timescale=1000, duration=5000, then
    // rate/volume/reserved/matrix/predefined/next-track padding
    val mvhd = box("mvhd", be32(0) ++ be32(0) ++ be32(0) ++ be32(1000) ++
      be32(5000) ++ Array.fill(80)(0.toByte))
    def tkhd(w: Int, h: Int, v1: Boolean): Array[Byte] = {
      val ver = if (v1) Array[Byte](1, 0, 0, 0) else be32(0)
      val times = if (v1) Array.fill(20)(0.toByte) // ctime8+mtime8+id4
        else Array.fill(12)(0.toByte)
      val durEtc = if (v1) Array.fill(4 + 8 + 8)(0.toByte) // res4+dur8+res8
        else Array.fill(4 + 4 + 8)(0.toByte)
      box("tkhd", ver ++ times ++ durEtc ++
        Array.fill(2 + 2 + 2 + 2 + 36)(0.toByte) ++
        be32(w.toLong << 16) ++ be32(h.toLong << 16))
    }
    val vtrak = box("trak", tkhd(320, 240, tkhdV1))
    val atrak = box("trak", tkhd(0, 0, v1 = false))
    ftyp ++ box("moov", mvhd ++ vtrak ++ atrak)
  }

  test("multimodal: MP4 container probe reads brand, duration, and dims") {
    val m = Multimodal.mp4Meta(mp4Bytes()).get
    assert(m.brand === "isom")
    assert(m.timescale === 1000L && m.durationMs === 5000L)
    assert(m.nTracks === 2)
    assert(m.width === 320 && m.height === 240)
    // tkhd version 1 shifts the fixed-point dims by the 64-bit times
    val m1 = Multimodal.mp4Meta(mp4Bytes(tkhdV1 = true)).get
    assert(m1.width === 320 && m1.height === 240)
    // truncation and non-MP4 bytes refuse rather than misparse
    assert(Multimodal.mp4Meta(mp4Bytes().dropRight(30)).isEmpty)
    assert(Multimodal.mp4Meta("plainly not a video".getBytes).isEmpty)
    // extractFeatures: container dims override the metadata claim for
    // video mimes, but decoded stays false (no sample decode ran)
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, mp4Bytes(), "video/mp4", 999, 999),
      org.apache.spark.sql.Row(2L, "junk".getBytes, "video/mp4", 17, 13))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, payload BINARY, mime STRING, width INT, height INT")
    val out = Multimodal.extractFeatures(spark,
      spark.createDataFrame(rows, schema)).collect()
      .map(r => r.getLong(0) -> r).toMap
    val v = out(1L)
    assert(!v.getBoolean(v.fieldIndex("decoded")))
    assert(v.getInt(v.fieldIndex("thumb_w")) === 128) // 320x240 -> 128x96
    assert(v.getInt(v.fieldIndex("thumb_h")) === 96)
    val j = out(2L)
    assert(j.getInt(j.fieldIndex("thumb_w")) === 17 &&
      j.getInt(j.fieldIndex("thumb_h")) === 13)
  }

  /** Minimal MJPEG-in-AVI: RIFF/AVI wrapping a LIST movi of '00dc'
    * JPEG chunks (little-endian sizes, odd chunks padded per RIFF).
    */
  private def aviBytes(frames: Seq[Array[Byte]]): Array[Byte] = {
    def le32(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ le32(body.length.toLong) ++ body ++
        (if (body.length % 2 == 1) Array[Byte](0)
         else Array.emptyByteArray)
    val movi = "movi".getBytes("US-ASCII") ++
      frames.toArray.flatMap(f => chunk("00dc", f))
    chunk("RIFF", "AVI ".getBytes("US-ASCII") ++ chunk("LIST", movi))
  }

  /** Solid-gray JPEG frame (luminance == v everywhere; JPEG round-trips
    * a solid plane within ±2).
    */
  private def jpegGray(v: Int, w: Int = 16, h: Int = 16): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  test("multimodal: MJPEG-in-AVI frames decode for real through the " +
       "RIFF walk (no FFI)") {
    // three frames at bin-centered luminances; temporal sampling of a
    // 3-frame sequence hits indices 0,0,1,2,2
    val avi = aviBytes(Seq(jpegGray(40), jpegGray(136), jpegGray(220)))
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, avi, "video/x-msvideo", 999, 999),
      org.apache.spark.sql.Row(2L, avi.dropRight(40), "video/x-msvideo",
        9, 9),
      org.apache.spark.sql.Row(3L, aviBytes(Seq("not a jpeg".getBytes)),
        "video/x-msvideo", 9, 9))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, payload BINARY, mime STRING, width INT, height INT")
    val out = Multimodal.extractFeatures(spark,
      spark.createDataFrame(rows, schema)).collect()
      .map(r => r.getLong(0) -> r).toMap
    val v = out(1L)
    assert(v.getBoolean(v.fieldIndex("decoded")))
    // true raster dims from the decoded frames override the metadata
    assert(v.getInt(v.fieldIndex("thumb_w")) === 16)
    assert(v.getInt(v.fieldIndex("thumb_h")) === 16)
    // per-sampled-frame midpoint luminance, frame-exact within the JPEG
    // solid-plane round-trip tolerance
    val fr = v.getSeq[Long](v.fieldIndex("frames"))
    val want = Seq(40L, 40L, 136L, 220L, 220L)
    fr.zip(want).foreach { case (g, e) =>
      assert(math.abs(g - e) <= 2L, s"frames=$fr") }
    // poster grid = middle frame, solid ~136
    assert(v.getSeq[Long](v.fieldIndex("grid"))
      .forall(g => math.abs(g - 136L) <= 2L))
    // averaged histogram: mass 0.4/0.2/0.4 in the three frames' bins
    val hist = v.getSeq[Double](v.fieldIndex("hist"))
    assert(math.abs(hist(2) - 0.4) < 0.05, s"hist=$hist")
    assert(math.abs(hist(8) - 0.2) < 0.05, s"hist=$hist")
    assert(math.abs(hist(13) - 0.4) < 0.05, s"hist=$hist")
    // a truncated container and an undecodable frame both refuse the
    // decode and take the declared fallback
    assert(!out(2L).getBoolean(out(2L).fieldIndex("decoded")))
    assert(!out(3L).getBoolean(out(3L).fieldIndex("decoded")))
  }

  /** Minimal valid RIFF/WAVE PCM container around raw sample bytes. */
  private def wavBytes(fmt: Int, bits: Int, data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def s4(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    def le32(v: Int): Unit =
      (0 until 4).foreach(i => bos.write((v >> (8 * i)) & 0xff))
    def le16(v: Int): Unit =
      (0 until 2).foreach(i => bos.write((v >> (8 * i)) & 0xff))
    s4("RIFF"); le32(36 + data.length); s4("WAVE")
    s4("fmt "); le32(16)
    le16(fmt); le16(1); le32(8000); le32(8000 * bits / 8)
    le16(bits / 8); le16(bits)
    s4("data"); le32(data.length)
    bos.write(data)
    bos.toByteArray
  }

  test("multimodal: real WAV payload decodes sample-exact") {
    // 64 16-bit samples: half at -32768 (bin 0), half at +32767 (bin 15),
    // alternating — every frame-sample position is known exactly
    val pcm16 = new java.io.ByteArrayOutputStream()
    (0 until 64).foreach { i =>
      val v = if (i % 2 == 0) -32768 else 32767
      pcm16.write(v & 0xff); pcm16.write((v >> 8) & 0xff)
    }
    val wav16 = wavBytes(fmt = 1, bits = 16, pcm16.toByteArray)
    // 8-bit (unsigned storage): all samples at 0xFF -> amplitude +127,
    // bin 15
    val wav8 = wavBytes(fmt = 1, bits = 8, Array.fill(32)(0xff.toByte))
    // hostile: data chunk claims more bytes than the payload carries
    val bad = wavBytes(fmt = 1, bits = 16, pcm16.toByteArray)
      .dropRight(10)
    // non-PCM format code (e.g. 3 = IEEE float) must refuse, not garble
    val floatFmt = wavBytes(fmt = 3, bits = 16, pcm16.toByteArray)
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L, wav16, "audio/wav", 30, 40),
      org.apache.spark.sql.Row(2L, wav8, "audio/wav", 10, 10),
      org.apache.spark.sql.Row(3L, bad, "audio/wav", 10, 10),
      org.apache.spark.sql.Row(4L, floatFmt, "audio/wav", 10, 10),
      org.apache.spark.sql.Row(5L, wav16, "video/mp4", 10, 10))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, payload BINARY, mime STRING, width INT, height INT")
    val media = spark.createDataFrame(rows, schema)
    val out = Multimodal.extractFeatures(spark, media).collect()
      .map(r => r.getLong(0) -> r).toMap
    val a = out(1L)
    assert(a.getBoolean(a.fieldIndex("decoded")))
    val hist = a.getSeq[Double](a.fieldIndex("hist"))
    assert(math.abs(hist(0) - 0.5) < 1e-9 &&
      math.abs(hist(15) - 0.5) < 1e-9)
    assert(hist.slice(1, 15).forall(_ === 0.0))
    // frame positions 0, 16, 32, 48, 63: even -> -32768, odd -> 32767
    assert(a.getSeq[Long](a.fieldIndex("frames")) ===
      Seq(-32768L, -32768L, -32768L, -32768L, 32767L))
    // waveform thumbnail: 64 samples over 64 -> identity; amplitudes
    // rescale to 0/255 alternating ((v+32768)>>8)
    assert(a.getSeq[Long](a.fieldIndex("grid")) ===
      (0 until 64).map(i => if (i % 2 == 0) 0L else 255L))
    // audio keeps metadata dims (no raster): thumb from (30, 40)
    assert(a.getInt(a.fieldIndex("thumb_w")) === 30 &&
      a.getInt(a.fieldIndex("thumb_h")) === 40)
    val b = out(2L)
    assert(b.getBoolean(b.fieldIndex("decoded")))
    val h8 = b.getSeq[Double](b.fieldIndex("hist"))
    assert(math.abs(h8(15) - 1.0) < 1e-9)
    assert(b.getSeq[Long](b.fieldIndex("frames")) === Seq.fill(5)(127L))
    // truncated data chunk, non-PCM format, and audio-in-video-mime all
    // take the declared fallback — never a silent half-decode
    assert(!out(3L).getBoolean(out(3L).fieldIndex("decoded")))
    assert(!out(4L).getBoolean(out(4L).fieldIndex("decoded")))
    assert(!out(5L).getBoolean(out(5L).fieldIndex("decoded")))
  }

  test("dsir: target-language docs score above off-target; keep = w > 0") {
    val r = graft.operators.Curation.dsirWeights(spark, dir)
      .localCheckpoint()
    // the importance ratio separates the domains: mean weight of the
    // target slice is strictly above every other language's mean
    val means = r.filter(col("avg_w").isNotNull)
      .groupBy("lang").agg(avg("avg_w").as("m"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
    val tgt = graft.operators.Curation.DsirTargetLang
    assert(means.keySet.size >= 2)
    means.filter(_._1 != tgt).foreach { case (l, m) =>
      assert(means(tgt) > m, s"target $tgt=${means(tgt)} !> $l=$m")
    }
    // verdict column is exactly the threshold predicate
    assert(r.filter(col("keep") =!=
      (col("avg_w") > graft.operators.Curation.DsirKeepAbove)).count()
      === 0L)
    // n_toks agrees with the tokenizer
    val toks = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        size(graft.functions.TextFunctions.tokens(col("text"))).as("n"))
    assert(r.join(toks, "doc_id")
      .filter(col("n_toks") =!= col("n")).count() === 0L)
  }

  test("curriculum bins: deciles in range, monotone with score, balanced") {
    val r = graft.operators.Curation.curriculumBins(spark, dir)
      .localCheckpoint()
    assert(r.filter(col("bin") < 0 || col("bin") >
      graft.operators.Curation.CurriculumBins - 1).count() === 0L)
    // within a language, bin is monotone in score
    val viol = r.as("a").join(r.as("b"),
      col("a.lang") === col("b.lang") &&
        col("a.model_score") < col("b.model_score") &&
        col("a.bin") > col("b.bin"))
    assert(viol.count() === 0L)
    // deciles are roughly balanced (quantized scores tie heavily, so
    // allow generous slack: each bin within 3x of the ideal share)
    val bad = r.groupBy("lang").count().withColumnRenamed("count", "n")
      .join(r.groupBy("lang", "bin").count(), "lang")
      .filter(col("count") > col("n") * 3 /
        graft.operators.Curation.CurriculumBins)
    assert(bad.count() === 0L, bad.collect().mkString(","))
  }

  test("curate pipeline: gates agree with standalone ops, reasons ranked") {
    val r = graft.operators.Curation.curatePipeline(spark, dir)
      .localCheckpoint()
    // composition agrees with EVERY standalone gate
    val q = graft.operators.Curation.qualityModel(spark, dir)
      .select(col("doc_id"), col("keep").as("e"))
    assert(r.join(q, "doc_id").filter(col("q_ok") =!= col("e"))
      .count() === 0L)
    val d = graft.operators.Dedup.dedupExact(spark, dir)
      .select(col("doc_id"), col("keep").as("e"))
    assert(r.join(d, "doc_id").filter(col("uniq_ok") =!= col("e"))
      .count() === 0L)
    val l = graft.operators.Curation.lengthFilter(spark, dir)
      .select(col("doc_id"), col("keep").as("e"))
    assert(r.join(l, "doc_id").filter(col("len_ok") =!= col("e"))
      .count() === 0L)
    val c = graft.operators.Curation.decontaminate(spark, dir)
      .select(col("doc_id"), (col("n_hits") === 0L).as("e"))
    // inner join: the benchmark slice is absent from the standalone op
    assert(r.join(c, "doc_id").filter(col("clean_ok") =!= col("e"))
      .count() === 0L)
    // reason-code precedence: a non-benchmark duplicate reads
    // "duplicate" whatever its other gates say; a doc failing ONLY the
    // length gate reads "length_outlier"
    assert(r.filter(!col("verdict").isin("benchmark_doc") &&
      !col("uniq_ok") && col("verdict") =!= "duplicate").count() === 0L)
    assert(r.filter(col("uniq_ok") && col("clean_ok") && col("q_ok") &&
      !col("len_ok") && col("verdict") =!= "length_outlier")
      .count() === 0L)
    assert(r.filter(col("uniq_ok") && col("clean_ok") && !col("q_ok") &&
      col("verdict") =!= "low_quality").count() === 0L)
    // keep iff all four gates pass; verdict "keep" iff keep
    assert(r.filter(col("keep") =!= (col("q_ok") && col("len_ok") &&
      col("uniq_ok") && col("clean_ok"))).count() === 0L)
    assert(r.filter((col("verdict") === "keep") =!= col("keep"))
      .count() === 0L)
    // the benchmark slice (doc_id % 97 = 0) is dropped with its own code
    assert(r.filter(col("doc_id") % 97 === 0)
      .filter(col("verdict") =!= "benchmark_doc").count() === 0L)
    // the pipeline keeps a substantial fraction and drops something
    val n = r.count().toDouble
    val kept = r.filter(col("keep")).count().toDouble
    assert(kept / n > 0.2 && kept / n < 1.0, s"kept ${kept / n}")
  }

  test("dedup recall: audit slice finds real pairs and minhash covers them") {
    val r = graft.operators.Dedup.dedupRecall(spark, dir).head()
    val (truth, found) = (r.getLong(0), r.getLong(1))
    // the synthetic corpus plants real near-dups; the audit must see them
    assert(truth > 0L)
    assert(found <= truth)
    // the 8x8 banding floor at the planted 0.95+ Jaccards: full coverage
    assert(r.getBoolean(3), s"recall ${r.get(2)} below floor")
    assert(math.abs(r.getDouble(2) - found.toDouble / truth.toDouble) < 1e-4)
  }

  test("jl projection: components recompute exactly, distances survive") {
    val g = graft.operators.Ann.planes(
      graft.operators.Ann.JlDim, 64, graft.operators.Ann.JlSeed)
    val scale = 1.0 / math.sqrt(graft.operators.Ann.JlDim.toDouble)
    val raw = spark.read.parquet(s"$dir/embeddings.parquet")
      .orderBy("vec_id").limit(50).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val proj = graft.operators.Ann.projectEmbeddings(spark, dir)
      .filter(col("vec_id") < 50).collect()
      .map(r => r.getLong(0) ->
        r.getString(2).split(",").map(_.toLong / 1e6)).toMap
    // every component equals the hand-computed dot / sqrt(k)
    raw.foreach { case (id, x) =>
      val expect = g.map { row =>
        math.floor(row.zip(x).map { case (a, b) => a * b }.sum * scale * 1e6
          + 0.5) / 1e6
      }
      expect.zip(proj(id)).foreach { case (e, p) =>
        assert(math.abs(e - p) < 2e-6, s"vec $id")
      }
    }
    // JL distance preservation: median pairwise-distance distortion at
    // k=16 stays modest (the lemma gives eps ~ sqrt(ln n / k); this is
    // a regression guard on the measured reality, not the bound)
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ids = raw.map(_._1)
    val dists = for {
      i <- ids.indices; j <- (i + 1) until ids.length
    } yield {
      val orig = d2(raw(i)._2, raw(j)._2)
      val prj = d2(proj(ids(i)), proj(ids(j)))
      math.abs(prj / orig - 1.0)
    }
    val sorted = dists.sorted
    assert(sorted(sorted.length / 2) < 0.35,
      s"median distortion ${sorted(sorted.length / 2)}")
  }

  test("dsir resample: gumbel keys verified, draw skews toward high weight") {
    val w = graft.operators.Curation.dsirWeights(spark, dir)
      .filter(col("avg_w").isNotNull).localCheckpoint()
    val r = graft.operators.Curation.dsirResample(spark, dir).collect()
    assert(r.length === graft.operators.Curation.DsirSampleK)
    assert(r.map(_.getLong(0)).toSeq === (1L to r.length))
    // recompute one row's gumbel key from its md5 coin
    val row = r.head
    val md5hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"dr:${row.getLong(1)}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 8)
    val u = (java.lang.Long.parseLong(md5hex, 16) + 0.5) / 4294967296.0
    val expect = row.getDouble(3) + -math.log(-math.log(u))
    assert(math.abs(row.getDouble(4) - expect) < 1e-6)
    // exp(w)-proportional sampling pulls the sampled mean weight above
    // the corpus mean
    val corpusMean = w.agg(avg("avg_w")).head.getDouble(0)
    val sampleMean = r.map(_.getDouble(3)).sum / r.length
    assert(sampleMean > corpusMean)
  }

  test("inverted index: postings sorted+unique, gaps reconstruct, df band") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val nDocs = docs.count()
    val r = graft.operators.Ranking.invertedIndex(spark, dir).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val df = row.getLong(1)
      // list columns are canonical comma strings (oracle-hashable form)
      val post = row.getString(2).split(",").map(_.toLong).toSeq
      val gaps = row.getString(3).split(",").map(_.toLong).toSeq
      assert(df === post.length)
      assert(df >= graft.operators.Ranking.IndexMinDf)
      assert(df.toDouble <= nDocs * graft.operators.Ranking.IndexStopFrac)
      // strictly increasing postings (sorted, no duplicate docs)
      assert(post.zip(post.tail).forall { case (a, b) => a < b })
      // delta decoding: prefix sums of gaps are exactly the postings
      assert(gaps.scanLeft(0L)(_ + _).tail === post)
    }
    // cross-check one term's posting list against a direct scan
    val term = r.head.getString(0)
    val expect = docs
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(col("text")).as("t"))
      .filter(array_contains(col("t"), term))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(r.head.getString(2).split(",").map(_.toLong).toSeq === expect)
  }

  test("two-level centroid assignment: the CASE expression assigns " +
       "exactly what the driver-side reference computes, the structure " +
       "partitions all cells, and miniKmeans is deterministic") {
    import org.apache.spark.sql.functions.col
    val dir001 = "/root/testdata/sf0.001"
    // k above the strategy threshold so the two-level path is the one
    // under test (the registry hits it only at corpus scale)
    val k = 100
    val cents = Ann.fitCentroids(spark, dir001, k)
    val branches = Ann.twoLevelStructure(cents)
    // structure: every cell in exactly one non-empty branch
    val all = branches.flatMap(_._2)
    assert(all.sorted === (0 until k))
    assert(branches.forall(_._2.nonEmpty))
    // determinism: same inputs, same structure
    assert(Ann.twoLevelStructure(cents).map(_._2) === branches.map(_._2))

    def l2(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); d += t * t; i += 1 }
      d
    }
    val rows = spark.read.parquet(s"$dir001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val assigned = spark.read.parquet(s"$dir001/embeddings.parquet")
      .select(col("vec_id"),
        Ann.twoLevelCell(col("embedding"), cents).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    var agree = 0
    rows.foreach { case (id, v) =>
      // reference: lowest-index argmin branch, then lowest-id argmin cell
      val bi = branches.indices.minBy(i => (l2(v, branches(i)._1), i))
      val cell = branches(bi)._2.minBy(c => (l2(v, cents(c)), c))
      assert(assigned(id) === cell, s"vec $id")
      val exact = cents.indices.minBy(c => (l2(v, cents(c)), c))
      if (exact == cell) agree += 1
    }
    // approximation honesty: two-level is exact WITHIN the chosen
    // branch; report-and-floor its global agreement (weakly clustered
    // synthetic vectors are the worst case)
    assert(agree.toDouble / rows.size >= 0.5,
      s"two-level/exact agreement ${agree.toDouble / rows.size}")
  }

  test("native cell assignment (VecCellAssign): bit-identical to both " +
       "Column formulations on real data, null semantics preserved") {
    import org.apache.spark.sql.functions.{array_min, array_position, col, lit}
    val dir001 = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir001/embeddings.parquet")
    // flat mode (k <= threshold): must equal the literal-array argmin
    val kF = 16
    val cF = Ann.fitCentroids(spark, dir001, kF)
    val dists = Ann.centroidDists(col("embedding"), cF)
    val flat = e.select(col("vec_id"),
        (array_position(dists, array_min(dists)) - 1).cast("int").as("a"),
        Ann.cellAssign(col("embedding"), cF).as("b"))
      .collect()
    assert(flat.nonEmpty)
    flat.foreach(r => assert(r.getInt(1) === r.getInt(2), s"vec ${r.get(0)}"))
    // two-level mode (k above threshold): must equal the chained CASE
    val kT = 100
    val cT = Ann.fitCentroids(spark, dir001, kT)
    val two = e.select(col("vec_id"),
        Ann.twoLevelCell(col("embedding"), cT).cast("int").as("a"),
        Ann.cellAssign(col("embedding"), cT).as("b"))
      .collect()
    two.foreach(r => assert(r.getInt(1) === r.getInt(2), s"vec ${r.get(0)}"))
    // null array and wrong-length array → null, like the formulation it
    // replaced (every per-centroid l2sq null → null argmin position)
    import spark.implicits._
    val edge = Seq(
      (1L, null.asInstanceOf[Array[Float]]),
      (2L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
      .select(col("vec_id"), Ann.cellAssign(col("embedding"), cF).as("c"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(edge(1L) && edge(2L))
    // interpreted (non-codegen) path agrees too: force eval off codegen
    val expr = org.apache.spark.sql.GraftSqlBridge
      .expression(Ann.cellAssign(lit(cF(3).map(_.toFloat)), cF))
    assert(expr.eval(null) === 3)
  }

  test("scaled (Manku multi-table) simhash: identical verdicts to the " +
       "4-chunk pigeonhole wherever neither cap binds, with a key space " +
       "that has no corpus ceiling") {
    // the pigeonhole guarantee is the same (Hamming<=3 damages <=3 of 6
    // blocks), so with caps not binding the two variants must agree row
    // for row — a full cross-validation of the combo-key construction
    val base = Dedup.dedupSimhash(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)),
        Option(r.get(3)), r.getBoolean(4))).toSet
    val scaled = Dedup.dedupSimhashScaled(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)),
        Option(r.get(3)), r.getBoolean(4))).toSet
    assert(scaled === base)
    // geometry: 20 tables of 30-bit keys — cells ~ n/2^30 per table vs
    // the 4-chunk variant's n/2^15 ceiling
    val combos = Dedup.simhashBlockCombos
    assert(combos.length === 20)
    assert(combos.distinct.length === 20)
    assert(combos.forall(_.length === Dedup.SimhashScaledKeep))
    // every <=3-block damage pattern leaves at least one combo intact
    for (damaged <- (0 until 6).combinations(3))
      assert(combos.exists(c => c.forall(b => !damaged.contains(b))),
        s"no intact combo for damage $damaged")
  }

  test("ffmpeg seam: probe finds a binary only when present; the bounded " +
       "subprocess pumps stdin/stdout without deadlock, splits MJPEG " +
       "frames that ImageIO then decodes, kills a hung codec at the " +
       "timeout, and maps a failing one to None") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.PosixFilePermissions
    // two real 3x2 JPEGs as the fake codec's output fixture
    def jpeg(seed: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(3, 2,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until 3; y <- 0 until 2)
        img.setRGB(x, y, (seed * 37 + x * 50 + y * 90) & 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val fixture = jpeg(1) ++ jpeg(2)
    val tmp = Files.createTempDirectory("ffm")
    Files.write(tmp.resolve("frames.mjpeg"), fixture)
    def script(name: String, body: String): String = {
      val p = tmp.resolve(name)
      Files.write(p, s"#!/bin/sh\n$body\n".getBytes("UTF-8"))
      Files.setPosixFilePermissions(p,
        PosixFilePermissions.fromString("rwxr-xr-x"))
      p.toString
    }
    // stand-in codec: drain stdin (like ffmpeg), emit the MJPEG stream
    val fake = script("ffmpeg",
      s"cat > /dev/null; cat '${tmp.resolve("frames.mjpeg")}'")
    // a payload bigger than the pipe buffer proves the concurrent
    // stdin/stdout pumping (single-threaded feeding would deadlock)
    val bigPayload = Array.fill[Byte](4 << 20)(42)
    val frames = Multimodal.ffmpegKeyframes(fake, bigPayload)
    assert(frames.nonEmpty, "plumbing returned None")
    assert(frames.get.length === 2, s"got ${frames.get.length} frames")
    // each split frame is a DECODABLE JPEG — the in-JVM ImageIO path
    frames.get.foreach { f =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f))
      assert(img != null && img.getWidth === 3 && img.getHeight === 2)
    }
    // a hung codec is destroyed at the timeout, not waited on forever
    val hung = script("ffmpeg_hang", "cat > /dev/null; sleep 600")
    val t0 = System.nanoTime()
    assert(Multimodal.ffmpegKeyframes(hung, Array[Byte](1),
      timeoutMs = 500L) === None)
    assert((System.nanoTime() - t0) / 1e6 < 10000, "timeout did not bind")
    // a failing codec (non-zero exit) maps to None, never throws
    val bad = script("ffmpeg_bad", "cat > /dev/null; exit 3")
    assert(Multimodal.ffmpegKeyframes(bad, Array[Byte](1)) === None)
    // probe honors GRAFT_FFMPEG=executable, rejects a non-executable
    assert(Multimodal.ffmpegBinary().forall(p =>
      new java.io.File(p).canExecute))
    // MJPEG splitter: exact marker arithmetic on the fixture
    val split = Multimodal.splitMjpegStream(fixture)
    assert(split.length === 2 &&
      split.map(_.length).sum === fixture.length)
  }

  test("ann_incremental: the persisted IVF index equals direct corpus " +
       "assignment; a planted delta copy of a corpus vector retrieves " +
       "it at rank 1 with cosine 1") {
    val tmp = java.nio.file.Files.createTempDirectory("annincr").toString
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
    // plant: vec_id 9007 (delta carve: % 10 == 7) = an exact copy of
    // corpus vector 1
    val planted = base.filter(col("vec_id") === 1L)
      .withColumn("vec_id", lit(9007L))
    base.union(planted).write.mode("overwrite")
      .parquet(s"$tmp/embeddings.parquet")
    val res = Ann.annIncremental(spark, tmp)
    val top = res.filter(col("q_id") === 9007L && col("rank") === 1L)
      .collect()
    assert(top.length === 1)
    assert(top(0).getLong(2) === 1L, top(0).toString) // cand_id
    assert(top(0).getDouble(3) === 1.0, top(0).toString) // cos_r
    // ranks are 1..k per query, no delta vector appears as a candidate
    val perQ = res.groupBy(col("q_id"))
      .agg(countDistinct(col("rank")).as("nr"), count(lit(1)).as("n"),
        max(col("rank")).as("mx"))
      .collect()
    perQ.foreach(r => assert(r.getLong(1) === r.getLong(2) &&
      r.getLong(3) === r.getLong(1), r.toString))
    assert(res.filter(col("cand_id") % 10 === 7).count() === 0L)
    // the artifact IS the corpus assignment: re-deriving cells directly
    // matches the parquet read-back bit for bit
    val centroids = Ann.fitCentroids(spark, tmp, Ann.IvfCentroids)
    val direct = spark.read.parquet(s"$tmp/embeddings.parquet")
      .filter(col("vec_id") % Ann.IncDeltaMod =!= Ann.IncDeltaRem)
      .select(col("vec_id"),
        Ann.cellAssignExact(col("embedding"), centroids).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val artifact = spark.read.parquet(Ann.ivfIndexPath(spark, tmp))
      .select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(artifact === direct)
  }

  test("dedup_substring survives a VIRAL boilerplate window: one " +
       "paragraph shared by 20k documents — the hot-wh partition the " +
       "window-count device must absorb") {
    val tmp = java.nio.file.Files.createTempDirectory("viral").toString
    val boiler = (1 to 12).map("b" + _).mkString(" ") // 12-token virus
    // 20k docs: unique 20-token prefix + the shared paragraph. Every
    // boiler window lands 20k rows in ONE wh partition (the count
    // window groups the equal key; no per-row sort order needed).
    spark.range(0, 20000).selectExpr("id AS doc_id",
        s"concat_ws(' ', transform(sequence(1, 20), " +
          s"j -> concat('u', id, 'x', j)), '$boiler') AS text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val t0 = System.nanoTime()
    val spans = Dedup.dedupSubstring(spark, tmp)
    // every doc gets exactly one span covering the virus: the 12-run
    // sits at positions 21..32, windows fully inside start at 21..23
    assert(spans.count() === 20000L)
    val bad = spans.filter(col("span_start") =!= 21L ||
      col("span_end") =!= 32L).count()
    assert(bad === 0L)
    // keep-one: the min (doc_id, i) canonical survives — 19999 cut
    val keep = Dedup.dedupSubstringKeepOne(spark, tmp)
    assert(keep.count() === 19999L)
    assert(keep.filter(col("doc_id") === 0L).count() === 0L)
    val wall = (System.nanoTime() - t0) / 1e9
    // bounded: the viral key costs an equal-key run in one partition,
    // not a pair join (a quadratic formulation would be 20k^2 = 400M
    // pairs here and time out long before this bound)
    assert(wall < 120.0, s"viral window took ${wall}s")
  }

  test("dedup_substring recovers exactly the planted >=w shared runs, " +
       "merges overlapping windows, ignores sub-w runs") {
    val tmp = java.nio.file.Files.createTempDirectory("substr").toString
    def toks(p: String, n: Int) = (1 to n).map(p + _).mkString(" ")
    val shared15 = toks("s", 15) // >= w: must be flagged in full
    val shared9 = toks("r", 9)   // < w: must NOT be flagged
    val run12 = toks("t", 12)    // repeated INSIDE one doc
    spark.createDataFrame(Seq(
      // A: positions 6..20 hold the shared run (5 unique + 15 + 10)
      (1L, s"${toks("u", 5)} $shared15 ${toks("q", 10)}"),
      // B: positions 9..23 hold the same run (8 unique + 15 + 2)
      (2L, s"${toks("v", 8)} $shared15 ${toks("y", 2)}"),
      // C: fully unique, long enough to window
      (3L, toks("c", 30)),
      // D/E: share only a 9-token run — below the w=10 threshold
      (4L, s"${toks("w", 3)} $shared9 ${toks("z", 7)}"),
      (5L, s"${toks("x", 5)} $shared9 ${toks("k", 3)}"),
      // F: the 12-run twice WITHIN one doc: spans [5,16] and [19,30]
      (6L, s"${toks("f", 4)} $run12 f90 f91 $run12 f92")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val spans = Dedup.dedupSubstring(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(spans === Set((1L, 6L, 20L), (2L, 9L, 23L),
      (6L, 5L, 16L), (6L, 19L, 30L)), spans.toString)
    // keep-one: each window's first (doc_id, i) occurrence is the
    // canonical — doc 1 survives whole (it owns every shared window's
    // canonical), doc 2's copy of the run is cut, and the intra-doc
    // repeat in doc 6 keeps its FIRST occurrence only
    val keepone = Dedup.dedupSubstringKeepOne(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(keepone === Set((2L, 9L, 23L), (6L, 19L, 30L)),
      keepone.toString)
    // the applied twin removes exactly the covered tokens, in order
    val clean = Dedup.dedupSubstringClean(spark, tmp)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(clean(1L) ===
      ((toks("u", 5) + " " + toks("q", 10), 15L, 15L)))
    assert(clean(3L) === ((toks("c", 30), 30L, 0L))) // untouched
    assert(clean(4L)._3 === 0L) // sub-w run survives
    assert(clean(6L) === (("f1 f2 f3 f4 f90 f91 f92", 7L, 24L)))
  }
}
