package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => T}
import graft.sources.Tables.table

/** Data-curation operators a large-scale training pipeline runs between
  * ingestion and tokenization: PII redaction, benchmark decontamination,
  * model-based quality scoring, and stratified sampling. North-star scope
  * (the reference has none of this); everything is per-row or
  * broadcast-join shaped — no operator here shuffles the corpus more than
  * once — and every query is oracle-checked (the devices used are chosen
  * to be engine-portable: RE2-safe regexes, md5, plain arithmetic).
  */
object Curation {

  /** Chunking parameters: fixed token budget with overlap — the standard
    * RAG/training preprocessing split. Stride = size - overlap.
    */
  val ChunkSize = 64
  val ChunkOverlap = 16
  val ChunkStride: Int = ChunkSize - ChunkOverlap

  /** Split every document into overlapping fixed-token-budget chunks
    * (oracle-checked): chunk i covers tokens [i*stride, i*stride+size).
    * Per-row generator — one explode, no shuffle; at 100 TB this runs at
    * scan speed and the output is the training/RAG ingestion unit.
    * Token-less documents produce no chunks (nothing to pack), and a
    * tail start whose chunk would be fully contained in its predecessor
    * (start + overlap >= n, i.e. the previous chunk already reached the
    * end) is dropped — no redundant ingestion content.
    */
  def chunkDocuments(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "documents")
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0), col("n") - 1, lit(ChunkStride)))
          .as("start"))
      .filter(col("start") === 0 ||
        col("start") + ChunkOverlap < col("n"))
      .select(col("doc_id"),
        floor(col("start") / ChunkStride).cast("long").as("chunk_id"),
        col("start").cast("long").as("start"),
        size(slice(col("toks"), col("start") + 1, lit(ChunkSize)))
          .cast("long").as("n_chunk_tokens"),
        concat_ws(" ", slice(col("toks"), col("start") + 1, lit(ChunkSize)))
          .as("chunk_text"))
  }

  // ------------------------------------------------------- PII redaction

  /** RE2-safe patterns (no backrefs/lookahead) so Spark's Java regex and
    * the DuckDB oracle agree on every match.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** Redact emails then IPv4s (order matters and is mirrored in the
    * oracle); emit counts and an md5 of the redacted text — the hash keeps
    * the oracle row small while still pinning every replaced byte.
    * Per-row, scan-speed, no shuffle.
    */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val redacted = regexp_replace(
      regexp_replace(col("text"), EmailRe, "<EMAIL>"),
      Ipv4Re, "<IP>")
    table(s, dir, "documents").select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0)))
        .cast("long").as("n_ips"),
      md5(redacted).as("redacted_md5"))
  }

  // ----------------------------------------------- benchmark decontamination

  /** Word-shingle width for contamination checks: 8 tokens is the common
    * n-gram decontamination window (long enough that chance collisions are
    * negligible, short enough to catch partial inclusions).
    */
  val DecontamN = 8

  /** Benchmark membership is a deterministic id subset here (every 97th
    * doc) standing in for an eval-set table; the operator's shape is what
    * matters: the benchmark side's distinct shingle hashes BROADCAST to a
    * semi-join against the corpus's exploded shingles — the corpus streams
    * once, nothing corpus-sized shuffles. `n_hits` = distinct benchmark
    * shingles shared.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val par = s.sparkContext.defaultParallelism
    val sh = docs.repartition(par).select(col("doc_id"),
      explode(T.wordShingles(col("text"), DecontamN)).as("sh"))
      .select(col("doc_id"), md5(col("sh")).as("h"))
    val benchHashes = sh.filter(col("doc_id") % 97 === 0)
      .select(col("h")).distinct()
    val hits = sh.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(benchHashes), "h")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_hits"))
    docs.filter(col("doc_id") % 97 =!= 0).select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0L).as("contaminated"))
  }

  /** Containment threshold for [[decontaminateFuzzy]] verdicts. */
  val DecontamFuzzyThreshold = 0.2

  /** Fuzzy (containment-tier) decontamination (oracle-checked): where
    * [[decontaminate]] flags ANY shared 8-gram (the verbatim tier), this
    * scores each scanned doc against each benchmark doc by shingle
    * CONTAINMENT — |shared 8-grams| / |benchmark doc's 8-grams| — and
    * flags docs whose best containment crosses a threshold. Containment,
    * not Jaccard: contamination means the doc carries a large FRACTION
    * OF THE BENCHMARK (a long document quoting a whole eval item must
    * score high even though its own shingle set is far bigger — the
    * asymmetric lesson of `dedup_containment` applied to eval leakage).
    * Catches partially-edited benchmark inclusions the any-hit tier
    * can't rank and symmetric Jaccard dilutes away.
    *
    * The scanned stream is the clean corpus PLUS deterministic leak
    * probes (the `fuzzy_join` corruption device): for each benchmark
    * doc, a synthetic doc_id = -bench_id whose text is the benchmark's
    * first half spliced onto the successor doc's tail — a half-leaked
    * eval item. The natural corpus shares no 8-grams across docs (max
    * trigram containment measured 0.054), so the probes are what make
    * the gate exercise real hit rows, the best-match window, and BOTH
    * verdict branches; they are built in-plan from the real table and
    * mirrored exactly in SQL.
    *
    * Scale shape: benchmark shingle table (|bench|/|corpus| ≈ 1/97 here;
    * a few benchmarks' worth in production) broadcasts with bench_id;
    * the scanned stream explodes once and never self-joins; per-(doc,
    * bench) shared counts group only HIT rows; the best-match window
    * sees at most |bench docs| rows per doc. Ratios are one division +
    * round(6) on exact integers — engine-agreed.
    */
  def decontaminateFuzzy(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    // leak probes: bench first-ceil-half ++ successor's floor-tail-half,
    // token-aligned so the re-tokenized splice is exactly the two slices
    // probe id is -(bench_id + 1), not -bench_id: doc_ids start at 0 and
    // 0 % 97 == 0, so a plain negation would emit bench doc 0's probe
    // with doc_id 0 — indistinguishable from a real corpus doc and
    // invisible to the probes-are-negative filter contract
    val toked = docs.select(col("doc_id"), T.tokens(col("text")).as("toks"))
    val probes = toked.filter(col("doc_id") % 97 === 0).as("b")
      .join(toked.as("p"), col("p.doc_id") === col("b.doc_id") + 1)
      .select((-(col("b.doc_id") + 1)).as("doc_id"),
        concat_ws(" ", concat(
          slice(col("b.toks"), lit(1),
            expr("(size(b.toks) + 1) div 2")),
          expr("slice(p.toks, size(p.toks) div 2 + 1, " +
            "size(p.toks) - size(p.toks) div 2)"))).as("text"))
    val scanned = docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("text")).unionByName(probes)
    val par = s.sparkContext.defaultParallelism
    def shingleHashes(df: DataFrame): DataFrame =
      df.repartition(par).select(col("doc_id"),
        explode(array_distinct(T.wordShingles(col("text"), DecontamN)))
          .as("sh"))
        .select(col("doc_id"), md5(col("sh")).as("h"))
    val bench = shingleHashes(docs.filter(col("doc_id") % 97 === 0))
      .select(col("doc_id").as("bench_id"), col("h"))
    val nb = bench.groupBy(col("bench_id")).agg(count(lit(1)).as("nb"))
    val shared = shingleHashes(scanned)
      .join(broadcast(bench), "h")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
    val scored = shared.join(broadcast(nb), "bench_id")
      .withColumn("containment",
        round(col("n_shared").cast("double") / col("nb"), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("containment").desc, col("bench_id").asc)
    val best = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("bench_id").as("best_bench"),
        col("containment"))
    scanned.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("best_bench"),
        coalesce(col("containment"), lit(0.0)).as("containment"),
        coalesce(col("containment") >= DecontamFuzzyThreshold, lit(false))
          .as("contaminated"))
  }

  // ------------------------------------------------- quality-model scoring

  /** Linear quality model over the structural features: weights would come
    * from a trained classifier artifact broadcast to executors; here they
    * are fixed literals (deterministic, oracle-mirrored). The shape is the
    * point: model inference as a per-row codegen'd expression — a 100 TB
    * corpus is scored at scan speed with zero shuffles.
    */
  val QualityWeights: Map[String, Double] = Map(
    "bias" -> -1.2, "stop_ratio" -> 2.4, "uniq_ratio" -> 1.1,
    "len_norm" -> 0.9, "punct_ratio" -> -1.8)

  def qualityModel(s: SparkSession, dir: String): DataFrame = {
    val toks = T.tokens(col("text"))
    val nToks = size(toks).cast("double")
    val stopRatio = T.stopwordRatio(col("text"), TextOps.stopwords)
    val uniqRatio = T.uniqueTokenRatio(col("text"))
    val lenNorm = least(nToks / 100.0, lit(1.0))
    val z = lit(QualityWeights("bias")) +
      lit(QualityWeights("stop_ratio")) * stopRatio +
      lit(QualityWeights("uniq_ratio")) * uniqRatio +
      lit(QualityWeights("len_norm")) * lenNorm +
      lit(QualityWeights("punct_ratio")) * T.punctRatio(col("text"))
    val score = lit(1.0) / (lit(1.0) + exp(-z))
    table(s, dir, "documents").select(
      col("doc_id"),
      round(score, 4).as("model_score"),
      (score > 0.5).as("keep"))
  }

  // ------------------------------------------------- sequence packing

  /** Token budget per packed training sequence. */
  val PackBudget = 2048L

  /** Deterministic sequence packing: docs are laid out per-language in
    * doc_id order and assigned to fixed-budget bins by running token
    * count — the standard pre-tokenization packing pass. One window
    * shuffle on (lang); bin assignment is pure arithmetic on the running
    * sum, so the layout is identical on any cluster size. Boundary docs
    * span bins (offset + n_tokens may exceed the budget) — the downstream
    * tokenizer splits them; the point here is the deterministic layout.
    */
  def packSequences(s: SparkSession, dir: String,
                    budget: Long = PackBudget): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        T.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("start_tok",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        // integer DIV, not double division + cast (see the oracle-parity
        // trap notes: double/cast rounds differently across engines)
        expr(s"start_tok div $budget").as("bin_id"),
        (col("start_tok") % budget).as("bin_offset"))
  }

  // ------------------------------------------------- stratified sampling

  /** Per-language sampling fractions — downsample the dominant language,
    * keep the tail (the standard data-mixture rebalancing move).
    */
  val SampleFractions: Map[String, Double] =
    Map("en" -> 0.5, "fr" -> 0.8, "es" -> 0.8, "de" -> 0.8, "zh" -> 1.0)

  /** A fraction as an 8-hex-digit threshold: md5's lowercase hex compares
    * lexicographically exactly like the number it encodes, so `coin <
    * threshold` needs no hex→int conversion anywhere — the same string
    * comparison runs in any engine. f >= 1 maps above every hex digit.
    */
  def hexThreshold(f: Double): String =
    if (f >= 1.0) "g" else f"${(f * 4294967296L).toLong}%08x"

  /** Deterministic stratified sample: a doc is kept iff the first 8 hex
    * digits of md5(doc_id) fall under its language's threshold — exactly
    * reproducible on any engine/cluster size (md5 is the cross-engine
    * coin), no RNG state, per-row, shuffle-free.
    */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    val coin = substring(md5(col("doc_id").cast("string")), 1, 8)
    val thr = SampleFractions.foldLeft(lit(hexThreshold(1.0))) {
      case (acc, (lang, f)) =>
        when(col("lang") === lang, lit(hexThreshold(f))).otherwise(acc)
    }
    table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), coin.as("coin"), thr.as("thr"))
      .filter(col("coin") < col("thr"))
      .select(col("doc_id"), col("lang"), col("coin"))
  }

  /** Holdout fractions for the deterministic split: ~1.5 % val, ~1.5 %
    * test (hex thresholds on the md5 coin), remainder train.
    */
  val ValThreshold = "04000000"
  val TestThreshold = "08000000"

  /** Deterministic train/val/test split assignment (oracle-checked): the
    * same md5-hex coin as [[sampleStratified]] partitions every document
    * into exactly one split — reproducible on any engine or cluster
    * size, stable under corpus growth (a doc's split never changes when
    * other docs are added), no RNG state, per-row, shuffle-free. The
    * standard pre-training holdout carve.
    */
  def splitAssign(s: SparkSession, dir: String): DataFrame = {
    val coin = substring(md5(col("doc_id").cast("string")), 1, 8)
    table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), coin.as("coin"))
      .withColumn("split",
        when(col("coin") < ValThreshold, "val")
          .when(col("coin") < TestThreshold, "test")
          .otherwise("train"))
      .select(col("doc_id"), col("lang"), col("split"))
  }

  /** Seeded-shuffle shard parameters: the seed makes the permutation a
    * reproducible artifact (re-running the export yields byte-identical
    * shards); the shard count is what a real export would size from the
    * corpus footprint (ShardedExport's device) — fixed here so the
    * oracle is static.
    */
  val ShuffleSeed = "graft-shuffle-v1"
  val NumShuffleShards = 8
  // The shard below is (first two md5 hex digits) % NumShuffleShards —
  // 256 equally-likely values, so the assignment is only UNIFORM when
  // the modulus divides 256. Fail construction (not silently bias the
  // shards) if the constant is ever retuned off a power of two ≤ 256.
  require(256 % NumShuffleShards == 0,
    s"NumShuffleShards=$NumShuffleShards must divide 256 for uniform shards")

  /** Seeded global corpus shuffle → shard + in-shard position
    * (oracle-checked): the last step of every pre-training data
    * pipeline — decorrelate neighboring documents (dedup clusters,
    * crawl order, domain runs are all locality in the source order)
    * before the trainer streams shards sequentially.
    *
    * Device: an md5 over (seed, doc_id) is the permutation key — no RNG
    * state, reproducible on any engine or cluster size, and a new seed
    * is a fresh independent permutation. The shard is the key's first
    * two hex digits mod [[NumShuffleShards]] (256 uniform values, so
    * shards are balanced); the position is a row_number over the key
    * WITHIN the shard.
    *
    * Scale shape: NO global sort and NO single-partition window — the
    * shard assignment is per-row at scan speed, and the position window
    * partitions BY shard, so the only shuffle is one hash exchange on
    * shard (at 100 TB the shard count is sized so each holds one
    * trainer-file's worth, e.g. tens of thousands — per-shard sorts stay
    * small and parallel). A global ORDER BY formulation would range-sort
    * the whole corpus for the same result.
    */
  def shuffleShards(s: SparkSession, dir: String): DataFrame = {
    val skey = md5(concat_ws(":", lit(ShuffleSeed),
      col("doc_id").cast("string")))
    // hex digit -> value without an engine-specific hex-parse: ascii
    // arithmetic works identically in Spark and DuckDB (md5 hex is
    // lowercase in both)
    def hexVal(c: Column): Column =
      ascii(c) - when(c <= "9", lit(48)).otherwise(lit(87))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("skey"), col("doc_id"))
    table(s, dir, "documents")
      .select(col("doc_id"), skey.as("skey"))
      .withColumn("shard",
        (hexVal(substring(col("skey"), 1, 1)) * 16 +
          hexVal(substring(col("skey"), 2, 1))) % NumShuffleShards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  /** Robust-statistics length filter (oracle-checked): per-language
    * exact p05/p95 bounds on n_chars, documents outside the band
    * dropped — the outlier-trimming pass (truncated/garbled ingest on
    * the short side, concatenation accidents on the long side) that
    * runs before any content-quality model. Bounds are computed FROM
    * the corpus per stratum, not configured.
    *
    * Scale shape: one |languages|-row percentile aggregate (map-side
    * partials; the GK-sketch variant of the same query is
    * agg_approx_quantile's device if exact percentiles get expensive),
    * broadcast back; the verdict is per-row at scan speed.
    */
  val LengthLowQ = 0.05
  val LengthHighQ = 0.95

  def lengthFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val bounds = docs.groupBy(col("lang"))
      .agg(expr(s"percentile(n_chars, array($LengthLowQ, $LengthHighQ))")
        .as("pq"))
      .select(col("lang"), round(col("pq").getItem(0), 4).as("p05"),
        round(col("pq").getItem(1), 4).as("p95"))
    docs.join(broadcast(bounds), "lang")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("p05"), col("p95"),
        (col("n_chars") >= col("p05") && col("n_chars") <= col("p95"))
          .as("keep"))
  }

  /** Decile count for [[curriculumBins]] and the shared cut-point
    * literals (interpolated into BOTH engines' SQL so the quantile
    * probabilities are the same doubles).
    */
  val CurriculumBins = 10
  def curriculumCuts: Seq[Double] = (1 until CurriculumBins).map(_ / 10.0)

  /** Curriculum binning (oracle-checked): per-language quality-score
    * deciles — the ordering a curriculum-learning schedule consumes
    * (feed bin 9 first, bin 0 last, or anneal across bins). Boundaries
    * are EXACT per-lang percentiles of the model score computed from
    * the corpus (the [[lengthFilter]] device: a |langs| x 9 bounds
    * table broadcast back onto the stream), and a document's bin is the
    * count of boundaries strictly below its score — ties land in the
    * lower bin in both engines. The score is 1e-4-quantized upstream,
    * which keeps interpolated boundaries off the ulp knife-edge.
    */
  def curriculumBins(s: SparkSession, dir: String): DataFrame = {
    val scored = table(s, dir, "documents").select(col("doc_id"), col("lang"))
      .join(qualityModel(s, dir).select(col("doc_id"), col("model_score")),
        Seq("doc_id"))
    val bounds = scored.groupBy(col("lang"))
      .agg(expr(s"percentile(model_score, " +
        s"array(${curriculumCuts.mkString(", ")}))").as("qs"))
    scored.join(broadcast(bounds), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("model_score"),
        aggregate(col("qs"), lit(0), (acc, q) =>
          acc + when(col("model_score") > q, 1).otherwise(0)).as("bin"))
  }

  /** Exact sample size for [[sampleExactK]]. */
  val ExactSampleK = 200

  /** Deterministic EXACT-size uniform sample (oracle-checked): the k
    * documents with the smallest salted md5 coins. Fraction-threshold
    * sampling ([[sampleStratified]]) only hits its target size in
    * expectation; when the contract is "exactly k rows" (eval carves,
    * fixed-budget annotation batches), the order statistic is the
    * device. Coins are distinct with overwhelming probability and
    * doc_id breaks any tie, so the selected set is unique and
    * reproducible on any engine or cluster size.
    *
    * Scale shape: orderBy(...).limit(k) plans TakeOrderedAndProject —
    * each task keeps its local top-k and the driver merges k-sized
    * heaps; the corpus is never globally sorted (PlanSpec pins this).
    */
  def sampleExactK(s: SparkSession, dir: String,
                   k: Int = ExactSampleK): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        md5(concat(lit("xk:"), col("doc_id").cast("string"))).as("coin"))
      .orderBy(col("coin"), col("doc_id"))
      .limit(k)

  // --------------------------------------- temperature-balanced sampling

  /** Mixture temperature: sampling weight w_l = c_l^alpha (alpha < 1
    * upsamples the tail relative to the head — the multilingual
    * rebalancing exponent from the mT5/XLM-R recipe family).
    */
  val SampleTemperatureAlpha = 0.3

  /** Target corpus size as a fraction of the input. */
  val SampleBudgetFrac = 0.5

  /** Temperature-balanced language sampling (oracle-checked): the
    * data-mixture move every multilingual pretraining pipeline runs.
    * Per-language acceptance rate r_l = min(1, N*budget*p_l/c_l) with
    * p_l = c_l^alpha / sum(c_m^alpha) — dominant languages are
    * downsampled toward the tempered distribution, tail languages kept
    * whole. Unlike [[sampleStratified]]'s FIXED per-language fractions,
    * the rates here are computed FROM the corpus inside the query
    * (language counts -> tempered weights -> rates), so the operator
    * adapts to any mixture without a config change.
    *
    * Scale shape: the rate table is |languages| rows (a groupBy on a
    * low-cardinality key with map-side partial aggregation) broadcast
    * back to the corpus — the corpus itself never shuffles; acceptance
    * is the md5-hex coin (salted "ls:" so it is independent of the
    * split/sample coins), per-row at scan speed, deterministic on any
    * cluster size.
    */
  def langSample(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val counts = docs.groupBy(col("lang"))
      .agg(count(lit(1)).cast("double").as("c_l"))
      .withColumn("w", pow(col("c_l"), SampleTemperatureAlpha))
    val totals = counts.agg(sum(col("w")).as("sw"), sum(col("c_l")).as("n"))
    val rates = counts.crossJoin(broadcast(totals))
      .select(col("lang"),
        least(lit(1.0), col("w") / col("sw") * col("n") *
          SampleBudgetFrac / col("c_l")).as("rate"))
    val coin = conv(substring(
      md5(concat(lit("ls:"), col("doc_id").cast("string"))), 1, 8),
      16, 10).cast("double") / 4294967296.0
    docs.join(broadcast(rates), "lang")
      .select(col("doc_id"), col("lang"),
        round(col("rate"), 6).as("rate"),
        (coin < col("rate")).as("keep"))
  }

  /** The capstone composition (oracle-checked): the full curation
    * pipeline as ONE query — model-based quality, robust length bounds,
    * exact dedup, and benchmark decontamination each emit their per-doc
    * verdict, and the composition joins them on doc_id into a final
    * keep decision with a single drop-reason code (precedence:
    * benchmark membership > duplicate > contaminated > low quality >
    * length outlier). This is the query a training-data team actually
    * ships: every gate is itself an oracle-checked operator, and the
    * composition is hash-checked end to end on top of them.
    *
    * Scale shape: each gate keeps its own optimal internal plan (scan-
    * speed scoring, broadcast quantile bounds, norm-window dedup,
    * broadcast benchmark set); the composition adds only doc_id-keyed
    * joins, which AQE plans from runtime sizes. Decontamination's
    * output domain EXCLUDES the benchmark slice itself, so that join
    * is a left join and a null clean verdict means "this IS benchmark
    * material" — dropped with its own reason, not conflated with
    * contamination.
    */
  def curatePipeline(s: SparkSession, dir: String): DataFrame = {
    val q = qualityModel(s, dir).select(col("doc_id"),
      col("keep").as("q_ok"))
    // the length gate already carries lang for every document — reusing
    // it saves a fifth full documents scan and a fifth doc_id join
    val l = lengthFilter(s, dir).select(col("doc_id"), col("lang"),
      col("keep").as("len_ok"))
    val d = Dedup.dedupExact(s, dir).select(col("doc_id"),
      col("keep").as("uniq_ok"))
    val c = decontaminate(s, dir).select(col("doc_id"),
      (col("n_hits") === 0L).as("clean_raw"))
    q.join(l, Seq("doc_id"))
      .join(d, Seq("doc_id")).join(c, Seq("doc_id"), "left")
      .withColumn("is_bench", col("clean_raw").isNull)
      .withColumn("clean_ok", coalesce(col("clean_raw"), lit(false)))
      .withColumn("keep", col("q_ok") && col("len_ok") &&
        col("uniq_ok") && col("clean_ok"))
      .withColumn("verdict",
        when(col("is_bench"), lit("benchmark_doc"))
          .when(!col("uniq_ok"), lit("duplicate"))
          .when(!col("clean_ok"), lit("contaminated"))
          .when(!col("q_ok"), lit("low_quality"))
          .when(!col("len_ok"), lit("length_outlier"))
          .otherwise(lit("keep")))
      .select(col("doc_id"), col("lang"), col("q_ok"), col("len_ok"),
        col("uniq_ok"), col("clean_ok"), col("keep"), col("verdict"))
  }

  /** Admission contract for a `documents` delivery — the rule set the
    * quality gate evaluates BEFORE the pipeline's expensive stages run.
    * One single-scan aggregate plus the UniqueKey distinct shuffle
    * (Validate.check's cost contract): at 100 TB the gate costs one
    * pass where the pipeline behind it costs many.
    */
  val DocRules: Seq[Validate.Rule] = Seq(
    Validate.NotNull("doc_id"),
    Validate.NotNull("text"),
    Validate.NonNegative("n_chars"),
    Validate.InDomain("lang", Seq("en", "de", "fr", "es", "zh")),
    Validate.UniqueKey(Seq("doc_id")))

  /** A delivery rejected by the admission gate — names every violated
    * rule and its count, so the operator knows WHAT failed without
    * re-running anything.
    */
  final class GateViolation(val failed: Seq[(String, Long, Long)])
    extends IllegalStateException(
      "curation gate REJECTED the delivery: " + failed.map {
        case (rule, v, n) => s"$rule ($v of $n rows)"
      }.mkString("; "))

  /** [[curatePipeline]] behind a fail-fast quality circuit breaker:
    * [[DocRules]] are evaluated first (one scan), and any rule whose
    * violation fraction exceeds `maxViolationFraction` ABORTS the
    * pipeline with [[GateViolation]] naming the rule — the expensive
    * dedup/decontamination stages never start on a malformed delivery.
    * The gate report is |rules| rows (bounded driver data, never the
    * corpus). With a clean delivery the result is exactly
    * [[curatePipeline]]'s.
    */
  def curatePipelineGated(s: SparkSession, dir: String,
                          maxViolationFraction: Double = 0.0): DataFrame = {
    val report = Validate.check(table(s, dir, "documents"), DocRules)
      .collect() // one row per rule — bounded by the rule-set size
    val failed = report.toSeq.map { r =>
      (r.getString(0), r.getLong(2), r.getLong(1))
    }.filter { case (_, v, n) => v.toDouble > maxViolationFraction * n }
    if (failed.nonEmpty) throw new GateViolation(failed)
    curatePipeline(s, dir)
  }

  /** DSIR hashed-feature space size and selection threshold. 4096 buckets
    * is far above this corpus's vocabulary; the paper's 10k serves web
    * scale. Threshold 0: keep docs whose token distribution is closer to
    * the target domain than to the raw corpus.
    */
  val DsirBuckets = 4096
  val DsirTargetLang = "en"
  val DsirKeepAbove = 0.0

  /** Data Selection via Importance Resampling (Xie et al. 2023) with
    * hashed unigram features (oracle-checked): estimate a target-domain
    * unigram distribution (here: the `en` slice standing in for the
    * high-quality target corpus) and the raw-corpus distribution over
    * [[DsirBuckets]] md5-hashed token buckets, then score every document
    * by its mean per-token log importance ratio
    *   ln p_target(bucket) - ln p_raw(bucket)
    * with add-one smoothing on both estimates. Positive means
    * "target-like" — the DSIR selection device that outperformed manual
    * heuristics for LM pretraining data selection.
    *
    * Scale shape: ONE token-explode pass feeds a (doc, bucket) count
    * aggregate; both domain distributions re-aggregate that frame to
    * exactly [[DsirBuckets]] rows (bounded, independent of corpus size),
    * which broadcast back onto it. The corpus is never joined against
    * anything corpus-sized, and the feature hash keeps the model table
    * bounded no matter how large the open-web vocabulary gets — the
    * entire point of DSIR's hashing trick. avg_w quantizes at 1e-3, far
    * above accumulated-ulp noise of the per-doc double sums.
    */
  /** Resample size for [[dsirResample]]. */
  val DsirSampleK = 100

  /** The RESAMPLING half of DSIR (oracle-checked): draw [[DsirSampleK]]
    * documents without replacement with probability proportional to
    * exp(importance weight), via the Gumbel-top-k trick — key_i = w_i +
    * Gumbel(0,1)_i, take the k largest keys. The Gumbel noise is
    * DETERMINISTIC (-ln(-ln(u)) over an md5-derived uniform), so the
    * draw is reproducible across engines, runs, and cluster sizes — the
    * same seeded-coin discipline as [[langSample]]. Weights enter
    * already quantized (avg_w at 1e-3 from [[dsirWeights]]) and the key
    * is re-quantized at 1e-6, so the two engines' ln() ulp differences
    * cannot flip an ordering the hash sees.
    *
    * Scale shape: dsirWeights' bounded-model scan plus one
    * TakeOrdered top-k — no new shuffle of the corpus, no driver-side
    * randomness, and k documents is all that ever leaves the funnel.
    */
  def dsirResample(s: SparkSession, dir: String): DataFrame = {
    val w = dsirWeights(s, dir).filter(col("avg_w").isNotNull)
    val u = (conv(substring(
      md5(concat(lit("dr:"), col("doc_id").cast("string"))), 1, 8),
      16, 10).cast("double") + 0.5) / 4294967296.0
    val wk = Window.orderBy(col("skey").desc, col("doc_id").asc)
    w.withColumn("skey", round(col("avg_w") + -log(-log(u)), 6))
      .orderBy(col("skey").desc, col("doc_id").asc).limit(DsirSampleK)
      .withColumn("rank", row_number().over(wk).cast("long"))
      .select(col("rank"), col("doc_id"), col("lang"), col("avg_w"),
        col("skey"))
  }

  def dsirWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    // localCheckpoint: the (doc, bucket) count frame has two consumers
    // (the bucket-table aggregate and the per-doc score join) whose
    // pushed filters differ, which defeats ReuseExchange — without the
    // barrier the corpus tokenizes twice (verified in the plan)
    val tf = docs
      .select(col("doc_id"), col("lang"),
        explode(T.tokens(col("text"))).as("term"))
      .withColumn("b", pmod(T.md5Prefix60(col("term")),
        lit(DsirBuckets.toLong)))
      .groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val buckets = tf.groupBy(col("b")).agg(
      sum(when(col("lang") === DsirTargetLang, col("tf"))
        .otherwise(lit(0L))).as("ct"),
      sum(col("tf")).as("cr"))
    val totals = buckets.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    val lam = buckets.crossJoin(broadcast(totals))
      .select(col("b"),
        (log((col("ct").cast("double") + 1.0) /
          (col("nt").cast("double") + lit(DsirBuckets.toDouble))) -
         log((col("cr").cast("double") + 1.0) /
          (col("nr").cast("double") + lit(DsirBuckets.toDouble)))).as("lw"))
    val doc = tf.join(broadcast(lam), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_toks"),
        sum(col("tf").cast("double") * col("lw")).as("w"))
    docs.select(col("doc_id"), col("lang"))
      .join(doc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        round(col("w") / col("n_toks").cast("double"), 3).as("avg_w"),
        coalesce(col("w") / col("n_toks").cast("double") > DsirKeepAbove,
          lit(false)).as("keep"))
  }

  /** Cramer-rule solve of the 3x3 normal equations, shared TEXTUALLY by
    * the Spark plan (selectExpr) and the DuckDB oracle (interpolated) —
    * identical expression trees mean identical IEEE double op order, so
    * the fitted coefficients are bit-equal cross-engine. Matrix names:
    * a11..a33 = X'X (a11 = n), sy/s1y/s2y = X'y, syy = y'y.
    */
  val RegDet: String =
    "a11*(a22*a33-a23*a23) - a12*(a12*a33-a23*a13) + a13*(a12*a23-a22*a13)"
  val RegB0: String =
    "(sy*(a22*a33-a23*a23) - a12*(s1y*a33-a23*s2y) + a13*(s1y*a23-a22*s2y)) / det"
  val RegB1: String =
    "(a11*(s1y*a33-a23*s2y) - sy*(a12*a33-a23*a13) + a13*(a12*s2y-s1y*a13)) / det"
  val RegB2: String =
    "(a11*(a22*s2y-s1y*a23) - a12*(a12*s2y-s1y*a13) + sy*(a12*a23-a22*a13)) / det"

  /** SSE via the normal-equation identity e'e = y'y - b'X'y (no second
    * data pass); clamped at 0 against float residue on a near-exact fit.
    */
  val RegSse: String = "greatest(syy - (b0*sy + b1*s1y + b2*s2y), 0.0)"

  /** Closed-form OLS fit of a document-quality model (oracle-checked):
    * regress y = ln(1 + token count) on x1 = ln(1 + n_chars) and
    * x2 = type-token ratio (the repetition feature — punctuation and
    * digit densities are degenerate on the synthetic corpus, which the
    * fit guard below would reject), solving the 3x3 normal equations
    * exactly
    * — the distributed "train a quality scorer" primitive (a linear
    * probe over cheap features is the first-stage filter in CCNet-style
    * pipelines; logistic IRLS is this same sums-then-solve loop run to
    * fixed point).
    *
    * Determinism device: features are quantized to DECIMAL(18,6), so
    * all ten sufficient statistics (X'X, X'y, y'y) are EXACT decimal
    * sums — invariant to row order, partitioning, and engine — and the
    * scalar Cramer solve shares its expression text with the oracle.
    * The model itself never sees the corpus twice: one scan builds the
    * sufficient statistics (map-side combined into ten numbers), the
    * solve is O(1) on the driver-side single row. This is the textbook
    * 100 TB shape for any fixed-dimension linear fit.
    */
  def qualityRegression(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val feats = docs
      .select(col("n_chars"), T.tokens(col("text")).as("toks"))
      .select(
        round(log(lit(1.0) + size(col("toks")).cast("double")), 6)
          .cast(dec).as("y"),
        round(log(lit(1.0) + col("n_chars").cast("double")), 6)
          .cast(dec).as("x1"),
        round(size(array_distinct(col("toks"))).cast("double") /
          greatest(size(col("toks")), lit(1)).cast("double"), 6)
          .cast(dec).as("x2"))
    val sums = feats.agg(
      count(lit(1)).cast("double").as("a11"),
      sum(col("x1")).cast("double").as("a12"),
      sum(col("x2")).cast("double").as("a13"),
      sum(col("x1") * col("x1")).cast("double").as("a22"),
      sum(col("x1") * col("x2")).cast("double").as("a23"),
      sum(col("x2") * col("x2")).cast("double").as("a33"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("x1") * col("y")).cast("double").as("s1y"),
      sum(col("x2") * col("y")).cast("double").as("s2y"),
      sum(col("y") * col("y")).cast("double").as("syy"))
    // fail-closed fit guard: a collinear/constant feature makes the
    // normal matrix singular — raise rather than emit garbage ratios
    // (ANSI would raise anyway on det = 0.0 exactly; this catches the
    // numerically-singular neighborhood too, with a diagnosable message)
    sums.selectExpr("*", s"$RegDet AS det0")
      .selectExpr("*", "CASE WHEN abs(det0) < 1e-6 THEN " +
        "CAST(raise_error('qualityRegression: singular design matrix " +
        "(degenerate or collinear features)') AS DOUBLE) " +
        "ELSE det0 END AS det")
      .selectExpr("*", s"$RegB0 AS b0", s"$RegB1 AS b1", s"$RegB2 AS b2")
      .selectExpr("*", s"$RegSse AS sse", "syy - sy*sy/a11 AS sst")
      .selectExpr("CAST(a11 AS BIGINT) AS n_docs",
        "round(b0, 6) AS b0", "round(b1, 6) AS b1", "round(b2, 6) AS b2",
        "round(1.0 - sse/sst, 6) AS r2",
        "round(sqrt(sse/a11), 6) AS rmse")
  }

  def qualityRegressionOracleSql: String =
    s"""
      WITH tk AS (
        SELECT n_chars,
          list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                      t -> length(t) > 0) AS toks
        FROM documents),
      feats AS (
        SELECT
          CAST(round(ln(1.0 + CAST(len(toks) AS DOUBLE)), 6)
            AS DECIMAL(18,6)) AS y,
          CAST(round(ln(1.0 + CAST(n_chars AS DOUBLE)), 6)
            AS DECIMAL(18,6)) AS x1,
          CAST(round(CAST(len(list_distinct(toks)) AS DOUBLE) /
            CAST(greatest(len(toks), 1) AS DOUBLE), 6)
            AS DECIMAL(18,6)) AS x2
        FROM tk),
      sums AS (
        SELECT
          CAST(count(*) AS DOUBLE) AS a11,
          CAST(sum(x1) AS DOUBLE) AS a12,
          CAST(sum(x2) AS DOUBLE) AS a13,
          CAST(sum(x1 * x1) AS DOUBLE) AS a22,
          CAST(sum(x1 * x2) AS DOUBLE) AS a23,
          CAST(sum(x2 * x2) AS DOUBLE) AS a33,
          CAST(sum(y) AS DOUBLE) AS sy,
          CAST(sum(x1 * y) AS DOUBLE) AS s1y,
          CAST(sum(x2 * y) AS DOUBLE) AS s2y,
          CAST(sum(y * y) AS DOUBLE) AS syy
        FROM feats),
      det0_t AS (SELECT *, $RegDet AS det0 FROM sums),
      det_t AS (SELECT *, CASE WHEN abs(det0) < 1e-6
          THEN error('qualityRegression: singular design matrix')
          ELSE det0 END AS det FROM det0_t),
      bs AS (SELECT *, $RegB0 AS b0, $RegB1 AS b1, $RegB2 AS b2
             FROM det_t),
      errs AS (SELECT *, $RegSse AS sse, syy - sy*sy/a11 AS sst FROM bs)
      SELECT CAST(a11 AS BIGINT) AS n_docs,
        round(b0, 6) AS b0, round(b1, 6) AS b1, round(b2, 6) AS b2,
        round(1.0 - sse/sst, 6) AS r2,
        round(sqrt(sse/a11), 6) AS rmse
      FROM errs"""

  // ------------------------------------------------------ per-domain caps

  /** Per-domain document budget for [[domainCap]] — small enough that the
    * cap actually binds at the correctness-gate scale (sf0.01 has ~25
    * docs per source), so the gate exercises truncation, not just rank
    * numbering.
    */
  val DomainCapK = 15

  /** Per-domain document caps (oracle-checked): keep at most K documents
    * per source/domain, chosen by a deterministic md5 coin — the
    * CommonCrawl-style guard against a single site dominating the
    * mixture. The coin is salted "dc:" so the kept subset is independent
    * of every other sampling decision in the pipeline.
    *
    * Scale shape: executed by the [[graft.plans.GroupedTopK]] custom
    * physical operator — each scan task keeps a K-bounded heap per
    * domain, so only k*|domains| rows per partition enter the exchange
    * and no domain is ever fully sorted. That is precisely the regime
    * the operator was built for (few keys, huge groups, tiny k): a
    * mega-domain with a billion pages costs the same K-row heap as a
    * blog with ten. Rank numbering afterwards is a window over <= K rows
    * per domain (the bm25 top-k-first device).
    */
  def domainCap(s: SparkSession, dir: String): DataFrame = {
    val coined = table(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        md5(concat(lit("dc:"), col("doc_id").cast("string"))).as("coin"))
    val top = graft.plans.TopKPlans.groupedTopK(coined,
      Seq(col("source")), Seq(col("coin").asc, col("doc_id").asc),
      DomainCapK)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("coin").asc, col("doc_id").asc)
    top.withColumn("rk", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("source"), col("rk"))
  }

  // -------------------------------------------- weighted sampling (A-ES)

  /** Sample size for [[weightedSample]]. */
  val WeightedSampleK = 150

  /** Deterministic weighted sampling without replacement (oracle-checked)
    * via the Efraimidis–Spirakis exponential-race key: item i with
    * weight w_i draws u_i ~ U(0,1] and wins rank by key = -ln(u_i)/w_i
    * ascending — the k smallest keys are a weighted sample without
    * replacement (here w = n_chars: longer documents proportionally
    * more likely, the token-budget-aware carve). u comes from the md5
    * 60-bit prefix ((m+1)/2^60, never 0), so the "random" race is
    * reproducible on any engine and any cluster size; ln runs on an
    * exactly-representable integer-valued double in both engines and
    * doc_id breaks ties, so the selected set is unique.
    *
    * Scale shape: per-row key computation at scan speed, then
    * orderBy(key).limit(k) = TakeOrderedAndProject — per-task k-heaps,
    * no global sort, same contract as [[sampleExactK]] but
    * weight-aware.
    */
  def weightedSample(s: SparkSession, dir: String,
                     k: Int = WeightedSampleK): DataFrame = {
    // exact long first (conv returns STRING), then one correctly-rounded
    // long->double conversion — the same value DuckDB's hex-cast route
    // produces, so the race keys agree bit for bit
    val m = conv(substring(
      md5(concat(lit("ws:"), col("doc_id").cast("string"))), 1, 15),
      16, 10).cast("long").cast("double")
    // -ln((m+1)/2^60) / w  =  (60*ln2 - ln(m+1)) / w
    val key = (lit(60.0 * math.log(2.0)) - log(m + 1.0)) /
      col("n_chars").cast("double")
    table(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"), round(key, 9).as("race_key"))
      .orderBy(col("race_key"), col("doc_id"))
      .limit(k)
  }

  // ------------------------------------------------ robust score scaling

  /** Winsorization quantiles for [[winsorizeScores]]. */
  val WinsorLowQ = 0.05
  val WinsorHighQ = 0.95

  /** Per-language winsorized min-max scaling of the model quality score
    * (oracle-checked): clamp to the [P5, P95] band, then rescale the
    * band to [0, 1] — the robust normalization that makes quality
    * scores comparable ACROSS languages before a global threshold or
    * curriculum consumes them (raw score distributions differ by
    * language; a fixed global cut would over-drop some languages).
    * Degenerate bands (P5 == P95) map to 0.5. The score is
    * 1e-4-quantized upstream ([[qualityModel]]), keeping the
    * interpolated quantiles off the ulp knife-edge, and the scaled
    * output is rounded to 6 decimals (the knn cosine device).
    *
    * Scale shape: the bounds table is |languages| x 2 exact percentiles
    * (map-side partial agg) broadcast back onto the stream — the corpus
    * never shuffles; clamp+rescale is per-row at scan speed.
    */
  def winsorizeScores(s: SparkSession, dir: String): DataFrame = {
    val scored = table(s, dir, "documents").select(col("doc_id"), col("lang"))
      .join(qualityModel(s, dir).select(col("doc_id"), col("model_score")),
        Seq("doc_id"))
    val bounds = scored.groupBy(col("lang"))
      .agg(expr(s"percentile(model_score, array($WinsorLowQ, $WinsorHighQ))")
        .as("pq"))
      .select(col("lang"), col("pq").getItem(0).as("p05"),
        col("pq").getItem(1).as("p95"))
    val clamped = least(greatest(col("model_score"), col("p05")), col("p95"))
    scored.join(broadcast(bounds), "lang")
      .select(col("doc_id"), col("lang"), col("model_score"),
        when(col("p95") > col("p05"),
          round((clamped - col("p05")) / (col("p95") - col("p05")), 6))
          .otherwise(0.5).as("w_score"))
  }
}
