package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ×N corpus builder for the scale-curve measurement (SCALING.md): turns
  * the sf0.1 testdata into an sf1-equivalent copy by stacking N
  * key-shifted generations of the big tables, so the expensive operator
  * families can be timed at two scales and their growth curves measured
  * instead of argued.
  *
  * Generation design — the point is that the ×N corpus has the SAME
  * statistical shape as the base, just N times more of it, so a measured
  * ratio isolates engine scaling from data-shape drift:
  *
  *  - `orders`/`lineitem`: order keys shift by `g * 1_000_000` per
  *    generation (far above the base max 149,999), so key cardinality
  *    scales ×N while every intra-order join (lineitem↔orders) keeps its
  *    exact fan-out. Dimension keys (partkey/suppkey/custkey) stay as-is:
  *    dims are fixed-size in a star schema, so each dim key now matches
  *    N× more facts — exactly what growing a fact table against fixed
  *    dimensions does.
  *  - `documents`: doc_id shifts by `g * 100_000`; generation g>0 text
  *    replaces every 5th token (offset by g) with a generation-salted
  *    token derived from the original. Within a generation the base
  *    corpus's near-duplicate structure is preserved verbatim (both
  *    members of a dup pair get the same perturbation pattern), while
  *    across generations nearly every shingle differs — so dedup finds
  *    the same cluster-size distribution over an N× corpus, not N-sized
  *    artificial clusters that would turn pair generation quadratic for
  *    data-shape reasons, not engine reasons.
  *  - `embeddings`: vec_id shifts by `g * 100_000`; generation g>0
  *    rotates the 64-dim vector left by g positions. Rotation preserves
  *    norms and pairwise distances WITHIN a generation (neighborhood
  *    structure intact) while decorrelating generations from each other —
  *    ANN at ×N sees N× more points with the base corpus's geometry.
  *  - small dims (`region nation customer supplier part`) and `events`
  *    copy verbatim: fixed-size at any fact scale.
  *
  * All transforms are deterministic — two builds of the same (src, N)
  * produce byte-identical row sets.
  */
object ScaleCorpus {

  val OrderKeyStride = 1000000L
  val DocKeyStride = 100000L

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_scale10")
    val gens = args.lift(2).map(_.toInt).getOrElse(10)
    // 4th arg "zipf" or "zipf<s>" (e.g. zipf1.1) builds the SKEWED
    // variant: fact-side foreign keys redistributed zipfian (see
    // [[zipfRemap]]) so the join/agg/window families can be measured
    // under a genuinely hot key instead of the base's benign uniform
    val zipfS = args.lift(3).collect {
      case a if a.startsWith("zipf") =>
        if (a == "zipf") 1.1 else a.stripPrefix("zipf").toDouble
    }
    val spark = graft.engine.GraftSession.getOrCreate("graft-scale-corpus")
    build(spark, src, dst, gens, zipfS)
    spark.stop()
  }

  /** Zipf LUT resolution: the hot head resolves exactly (rank 1 at
    * s=1.1 owns ~9% of the slots); tail ranks past the resolution are
    * simply never drawn, which only UNDER-populates the cold tail — the
    * hot-key stress the skew corpus exists for lives entirely in the
    * head.
    */
  val ZipfLutSlots = 8192

  /** Deterministic zipfian redistribution of a fact-side foreign key:
    * the ORIGINAL key (roughly uniform over 0..k-1) hashes to a LUT
    * slot, and the LUT is the inverse CDF of P(rank r) ∝ (r+1)^-s over
    * the SAME key domain — so every original key maps wholly to one new
    * key (per-key row grouping intact, dimension fan-out still 1:1
    * against a unique dim), while the new key's mass follows the zipf
    * law: at s=1.1 the hottest key draws ~9-10% of ALL fact rows. The
    * dim side is untouched, so referential integrity holds and join
    * OUTPUT size is unchanged — only its distribution across keys.
    */
  def zipfRemap(key: org.apache.spark.sql.Column, k: Int, s: Double,
                salt: Long): org.apache.spark.sql.Column = {
    val weights = Array.tabulate(math.min(k, ZipfLutSlots))(r =>
      math.pow(r + 1.0, -s))
    val total = weights.sum
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / total)
    val lut: Seq[Long] = (0 until ZipfLutSlots).map { i =>
      val q = (i + 0.5) / ZipfLutSlots
      val r = java.util.Arrays.binarySearch(cdf, q)
      (if (r >= 0) r else -r - 1).toLong
    }
    element_at(typedLit(lut),
      (pmod(xxhash64(key, lit(salt)), lit(ZipfLutSlots)) + 1).cast("int"))
  }

  def build(spark: SparkSession, src: String, dst: String,
            gens: Int, zipfS: Option[Double] = None): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dstPath = new org.apache.hadoop.fs.Path(dst)
    val fs = dstPath.getFileSystem(conf)
    fs.mkdirs(dstPath)
    // fixed-size tables: verbatim copies
    for (t <- Seq("region", "nation", "customer", "supplier", "part")) {
      val from = new org.apache.hadoop.fs.Path(s"$src/$t.parquet")
      val to = new org.apache.hadoop.fs.Path(s"$dst/$t.parquet")
      if (fs.exists(to)) fs.delete(to, true)
      org.apache.hadoop.fs.FileUtil.copy(
        from.getFileSystem(conf), from, fs, to, false, conf)
    }
    def gened(df: DataFrame): DataFrame =
      df.withColumn("g", explode(expr(s"sequence(0L, ${gens - 1}L)")))

    def write(df: DataFrame, name: String, files: Int): Unit =
      df.repartition(files).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")

    // events scale by USER generations: ids shift per generation, so
    // each generation carries the base population's exact per-user
    // session/funnel structure at the same timestamps — N× users, not
    // N×-longer histories (which would change windowing semantics).
    // Read through Tables.events so the TIMESTAMP(NANOS) physical type
    // normalizes; the written copy is MICROS, a generation drift every
    // events consumer already handles.
    // zipf mode: redistribute the fact-side FOREIGN keys (l_suppkey,
    // o_custkey, user_id) zipfian AFTER the generation transforms. Dims
    // stay untouched (unique keys), so joins keep 1:1 dim fan-out and
    // unchanged output SIZE — but the hottest supplier/customer/user
    // now owns ~10% of all fact rows: the hot-partition stress for
    // salted joins, AQE skew-split, grouped aggregation, and window
    // sorts that the shape-preserving corpus can never produce.
    def maybeZipf(df: DataFrame, keyCol: String, k: Int,
                  salt: Long): DataFrame = zipfS match {
      case Some(s) => df.withColumn(keyCol,
        zipfRemap(col(keyCol), k, s, salt).cast(
          df.schema(keyCol).dataType))
      case None => df
    }
    val nSupp = spark.read.parquet(s"$src/supplier.parquet").count().toInt
    val nCust = spark.read.parquet(s"$src/customer.parquet").count().toInt

    val events = graft.sources.Tables.events(spark, src)
    val nUsers = events.agg(max(col("user_id"))).head.getLong(0).toInt + 1
    write(maybeZipf(gened(events)
      .withColumn("event_id", col("event_id") + col("g") * 1000000L)
      .withColumn("user_id", col("user_id") + col("g") * 100000L)
      .drop("g"), "user_id", nUsers * gens, 101L),
      "events", math.max(2, gens / 2))

    val orders = spark.read.parquet(s"$src/orders.parquet")
    write(maybeZipf(gened(orders)
      .withColumn("o_orderkey", col("o_orderkey") + col("g") * OrderKeyStride)
      .drop("g"), "o_custkey", nCust, 102L),
      "orders", math.max(2, gens))

    val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
    write(maybeZipf(gened(lineitem)
      .withColumn("l_orderkey", col("l_orderkey") + col("g") * OrderKeyStride)
      .drop("g"), "l_suppkey", nSupp, 103L),
      "lineitem", math.max(4, 2 * gens))

    val documents = spark.read.parquet(s"$src/documents.parquet")
    // zipf mode for the TEXT corpus: the fact-key device applied to the
    // documents' categorical dimensions. The base corpus's source is
    // uniform over ~20 values and lang mildly en-heavy — benign for
    // every groupBy-domain / per-lang-percentile family. Remapped
    // zipfian (labels only — text untouched, so all shingle/banding
    // structure is preserved), the hottest source owns ~1/3 of ALL
    // docs and the hottest language the bulk of the rest: the hot-key
    // stress for domain_cap, lang_sample, tfidf per-lang aggregation,
    // and the per-group text dedup families.
    // lazy: two corpus-sized jobs that only the zipf branch needs —
    // the common plain build must not pay them
    lazy val nSrc = documents.select("source").distinct().count().toInt
    lazy val langs = documents.select("lang").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    def maybeZipfDocs(df: DataFrame): DataFrame = zipfS match {
      case Some(z) => df
        .withColumn("source",
          concat(lit("src"), zipfRemap(col("source"), nSrc, z, 104L)))
        .withColumn("lang", element_at(typedLit(langs),
          (zipfRemap(col("lang"), langs.size, z, 105L) + 1).cast("int")))
      case None => df
    }
    write(maybeZipfDocs(gened(documents))
      .withColumn("doc_id", col("doc_id") + col("g") * DocKeyStride)
      .withColumn("text", expr(
        """IF(g = 0, text,
          |   array_join(transform(split(text, ' '),
          |     (t, i) -> IF((i + g) % 5 = 0,
          |                  concat('w', g, substring(t, 1, 3)), t)),
          |   ' '))""".stripMargin))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("g"), "documents", math.max(2, gens))

    val embeddings = spark.read.parquet(s"$src/embeddings.parquet")
    val dim = 64
    // rotation index wraps at the dimension; generations past dim-1
    // additionally negate a g-dependent prefix (norm- and
    // intra-generation-distance-preserving, like the rotation) so no
    // generation ever replicates another's vectors exactly
    write(gened(embeddings)
      .withColumn("vec_id", col("vec_id") + col("g") * DocKeyStride)
      .withColumn("_r", (col("g") % dim).cast("int"))
      .withColumn("_neg", (col("g") / dim).cast("int") % (dim + 1))
      .withColumn("embedding", expr(
        s"""IF(g = 0, embedding,
           |   transform(
           |     concat(slice(embedding, _r + 1, $dim - _r),
           |            slice(embedding, 1, _r)),
           |     (x, i) -> IF(i < _neg, -x, x)))""".stripMargin))
      .drop("g", "_r", "_neg"), "embeddings", math.max(2, gens / 2))
  }
}
