package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.{TextFunctions => T, VectorFunctions => V}
import graft.sources.Tables.table

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, blocked n-gram Jaccard, and embedding-cosine
  * near-dup. North-star scope — the reference has no dedup of any kind.
  *
  * Common scale shape: every variant reduces the O(n^2) pair space to a
  * candidate set via a BLOCKING key (hash bucket, LSH band, SimHash chunk,
  * length/lang block), which Spark executes as a shuffle-on-key join — the
  * only formulation that survives 100 TB. Verification (exact Jaccard /
  * cosine / Hamming) then runs only on candidates. Outputs are per-document
  * verdicts (doc_id, dup_of, keep) so results are non-empty and auditable
  * even when a corpus has no duplicates.
  */
object Dedup {

  /** Whitespace-normalized, case-folded text — the exact-dedup key. */
  private def normText(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Exact dedup by normalized content hash (oracle-checked).
    * groupBy-free: two window functions over the norm key — one shuffle.
    * At 100 TB you'd key the window on xxhash64(norm) to shrink shuffle
    * payload; here norm keeps the oracle SQL 1:1.
    */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("norm"))
    table(s, dir, "documents")
      .withColumn("norm", normText(col("text")))
      .select(col("doc_id"),
        (col("doc_id") === min(col("doc_id")).over(w)).as("keep"),
        count(lit(1)).over(w).as("n_copies"))
  }

  // ------------------------------------------------------------- MinHash

  /** 8 bands x 8 rows: for weakly-similar pairs (J≈0.3, common in a
    * homogeneous corpus) a band collides with p=J^8≈7e-5, vs J^4≈8e-3 for
    * 16x4 — two orders of magnitude fewer false candidates to verify —
    * while true near-dups (J≥0.9) are still caught with p≈0.99.
    */
  val NumHashes = 64
  val Bands = 8
  val RowsPerBand: Int = NumHashes / Bands

  /** Drop LSH buckets larger than this: a bucket holding b docs implies
    * b^2 candidate pairs, and oversized buckets on homogeneous corpora are
    * degenerate (everything weakly similar), not true duplicate clusters.
    * Standard production-LSH guard; documented recall tradeoff.
    */
  val MaxBucket = 200

  /** Window-count formulation, NOT groupBy-count + join: the window needs
    * one shuffle on the bucket key and keeps this subtree single-consumer,
    * so the (expensive) signature pass above it is computed once. The
    * groupBy+join shape consumes its input twice and recomputes the whole
    * upstream per consumer — measured ~2x end-to-end on dedupMinhash.
    * Bonus: the bucket-key exchange this plants is exactly the join key of
    * the candidate self-join downstream, so ReuseExchange shares one
    * materialized shuffle across both join sides.
    */
  private def capBuckets(bands: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    bands.withColumn("_bsz", count(lit(1)).over(w))
      .filter(col("_bsz") <= MaxBucket).drop("_bsz")
  }

  /** MinHash + LSH near-duplicate detection (oracle-checked — the
    * md5-derived hash family below makes signatures, banding, estimate
    * prefilter and exact verify all SQL-expressible).
    *
    * Pipeline: word-3-shingles → 64-hash MinHash signature (vectorized
    * min-aggregates, see below) → Bands band hashes of RowsPerBand each →
    * explode to (band, bandHash) keys → cap degenerate buckets →
    * self-join on the band key for candidates → verify with EXACT Jaccard
    * on shingle sets → per-doc verdict. Band join + verify joins shuffle
    * on band key / doc_id; no stage is quadratic in corpus size.
    */
  /** Candidates must clear `threshold - EstEpsilon` on the signature-based
    * Jaccard ESTIMATE (matching components / 64) before the exact verify
    * runs. With 64 components the estimator's sd at J=0.8 is ~0.05, so
    * 3 sigma = 0.15: a true J>=0.8 pair fails the pre-filter with p~1e-3,
    * while the weakly-similar bulk (J~0.3) is rejected for the cost of one
    * codegen'd array comparison instead of an exact set intersection.
    */
  val EstEpsilon = 0.15

  /** MinHash family derivation (Kirsch–Mitzenmacher double hashing):
    * member i of the family is `(h1 + i*h2) mod 2^30` where h1/h2 are
    * 30-bit values cut from ONE md5 of the shingle and h2 is forced odd.
    * One md5 replaces the previous 65 per-shingle hash calls, and —
    * because md5 is the only primitive — the ENTIRE minhash pipeline
    * becomes expressible in oracle SQL (DuckDB computes identical
    * signatures), upgrading this flagship operator from a rows-only to a
    * full hash check.
    *
    * The modulus must be SMALL relative to i*h2 so the affine map
    * actually wraps: an early variant used mod 2^60 with 45-bit h2, and
    * since i*h2 <= 2^51 never wrapped, argmin was decided by h1 alone —
    * all 64 components collapsed to the same shingle, signatures
    * degenerated, and the candidate set exploded (measured: the verify
    * stage went 6.9 s at sf0.1). At 30 bits the family wraps (i*h2 up to
    * ~2^36), components are effectively independent, and a spurious
    * min-collision between two docs is ~ns_a*ns_b/2^30 — negligible for
    * the J-estimate. Everything stays in non-overflowing BIGINT range
    * under Spark's ANSI mode and in DuckDB alike.
    */
  val SigMask: Long = (1L << 30) - 1L

  /** Signature + banding + bucket-cap pipeline over an arbitrary
    * document set — the shared front half of [[dedupMinhash]] and the
    * per-batch pieces of [[dedupIncrementalMinhash]]. Returns capped rows of
    * (doc_id, sig ARRAY<64 x LONG>, band, bh); the cap applies WITHIN
    * the given set (for the full-corpus batch operator that is the
    * historical behavior unchanged; the incremental variant caps index
    * and delta sides separately, documented there).
    */
  private[graft] def minhashBands(s: SparkSession,
                                  docs: DataFrame): DataFrame =
    capBuckets(minhashBandTuples(s, docs), Seq("band", "bh"))

  /** The banding pipeline BEFORE the degenerate-bucket cap — the raw
    * (doc_id, sig, band, bh) tuples. [[minhashBands]] = this + the
    * [[capBuckets]] window; [[minhashBucketSizes]] audits it uncapped.
    */
  private[graft] def minhashBandTuples(s: SparkSession,
                                       docs: DataFrame): DataFrame = {
    // Signature in the vectorized shape: explode shingles, md5 each
    // shingle ONCE, then derive the 64 family members arithmetically
    // (see SigMask above). min() aggregates give map-side partial combine
    // + one shuffle on doc_id: the 100 TB shape. (Higher-order-function
    // formulations of the signature are interpreted per-row — an order
    // of magnitude slower; don't regress.)
    // Round-robin spread of the text pass: locally the table is one
    // parquet split, so without this the whole shingle pass runs in a
    // single task; on a real cluster the input is already multi-split and
    // this is a near-no-op relative to the corpus scan itself.
    val par = s.sparkContext.defaultParallelism
    val shingled = docs.repartition(par)
      .select(col("doc_id"), explode(T.wordShingles(col("text"), 3)).as("sh"))
      // md5_prefix60 = conv(substring(md5(sh),1,15),16,10) computed from
      // the digest bytes (no hex-string round trip); h1/h2 are disjoint-
      // enough 30-bit slices of it (bits 57..28 and 29..0)
      .select(col("doc_id"), T.md5Prefix60(col("sh")).as("p"))
      .select(col("doc_id"),
        shiftright(col("p"), 28).bitwiseAND(lit(SigMask)).as("h1"),
        (col("p").bitwiseAND(lit(SigMask)).bitwiseOR(lit(1L))).as("h2"))
    val minAggs = (0 until NumHashes).map(i =>
      min((col("h1") + lit(i.toLong) * col("h2")).bitwiseAND(lit(SigMask)))
        .as(s"h$i"))
    // The signature aggregation is the expensive full-corpus pass, so it
    // must run EXACTLY ONCE: the signature array rides along through the
    // band explode (512 B/doc x Bands — bounded), which makes banding the
    // aggregation's sole consumer and puts both signatures in hand at
    // candidate time with no re-join and no persist() (no lingering cache
    // in a long-lived session). Measured: re-joining sigs instead (three
    // consumer subtrees) recomputed the pass despite ReuseExchange and was
    // ~2x slower end-to-end.
    val sigs = shingled.groupBy(col("doc_id")).agg(minAggs.head, minAggs.tail: _*)
      .select(col("doc_id"),
        array((0 until NumHashes).map(i => col(s"h$i")): _*).as("sig"))
    val bandCols = (0 until Bands).map { j =>
      struct(lit(j).as("band"),
        substring(md5(concat_ws(",", (0 until RowsPerBand).map(r =>
          element_at(col("sig"), j * RowsPerBand + r + 1).cast("string")): _*)),
          1, 16).as("bh"))
    }
    sigs.select(col("doc_id"), col("sig"),
      explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("sig"),
        col("b.band").as("band"), col("b.bh").as("bh"))
  }

  /** PRE-cap (band, bh) bucket sizes for docs — what [[minhashBands]]'s
    * cap window sees before dropping over-[[MaxBucket]] buckets. The
    * capped output is blind to exactly the buckets the cap removed, so
    * any headroom/divergence audit (StreamingSpec's per-batch-vs-
    * delta-wide cap contract) must measure HERE, not on the survivors.
    */
  private[graft] def minhashBucketSizes(s: SparkSession,
                                        docs: DataFrame): DataFrame =
    minhashBandTuples(s, docs).groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("n"))

  /** Tier-1 signature-estimate gate: the (cheap, codegen-adjacent)
    * count of matching MinHash components must clear
    * `NumHashes x (threshold − EstEpsilon)` before a candidate pair
    * earns its exact verify — single-sourced so the batch and
    * incremental candidate joins apply the IDENTICAL filter.
    */
  private def sigEstimateOk(xSig: Column, ySig: Column,
                            threshold: Double): Column =
    aggregate(zip_with(xSig, ySig,
      (p, q) => when(p === q, 1).otherwise(0)), lit(0), _ + _) >=
      lit((NumHashes * (threshold - EstEpsilon)).ceil.toInt)

  def dedupMinhash(s: SparkSession, dir: String,
                   threshold: Double = 0.8): DataFrame = {
    val docsRaw = table(s, dir, "documents")
    val bands = minhashBands(s, docsRaw)
    // Tier 1 fused into candidate generation: the signature-estimate filter
    // (cheap, codegen-adjacent array comparison, no set ops) runs on each
    // band collision before pairs are deduplicated.
    //
    // merge-join hint, deliberately: (a) bands is corpus-sized, so the
    // broadcast AQE would pick at toy scale is exactly what dies at 100 TB;
    // (b) both SMJ sides then need Exchange(band, bh) — the very exchange
    // the bucket-cap window planted — so ReuseExchange materializes the
    // signature pipeline ONCE for both sides of the self-join.
    val survivors = bands.as("x").hint("merge").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id") &&
          sigEstimateOk(col("x.sig"), col("y.sig"), threshold))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
    // NO distinct() here: a pair colliding in several bands appears a few
    // times, but the dupOf min/max aggregate below collapses duplicates
    // anyway — a distinct would cost one more full exchange for nothing.
    // Tier 2: exact Jaccard, but only for pairs that cleared the estimate.
    // Shingle recomputation happens AFTER the join, on survivor rows only.
    // Survivors are the broadcast side — the corpus streams; broadcasting
    // the (tiny, pre-filtered) pair list is the only direction that
    // survives a corpus that doesn't fit on one node.
    val withA = broadcast(survivors)
      .join(docsRaw.select(col("doc_id").as("a"), col("text").as("ta")), "a")
    val verified = broadcast(withA)
      .join(docsRaw.select(col("doc_id").as("b"), col("text").as("tb")), "b")
      .withColumn("sa", T.wordShingles(col("ta"), 3))
      .withColumn("sb", T.wordShingles(col("tb"), 3))
      .withColumn("jaccard",
        size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))).cast("double"))
      .filter(col("jaccard") >= threshold)
    val dupOf = verified.groupBy(col("b").as("doc_id"))
      .agg(min(col("a")).as("dup_of"), max(col("jaccard")).as("best_jaccard"))
    docsRaw.select(col("doc_id"))
      .join(dupOf, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"),
        round(col("best_jaccard"), 4).as("best_jaccard"),
        col("dup_of").isNull.as("keep"))
  }

  // ------------------------------------- incremental (index-vs-delta)

  /** The delta split for [[dedupIncrementalMinhash]]: documents with
    * `doc_id % IndexDeltaMod == IndexDeltaRem` play the "newly ingested
    * batch" (~10% of the corpus at every SF); the rest are the
    * already-indexed corpus. A modulus, not a threshold, so the split
    * is stable under the generation-stacked scale corpora.
    */
  val IndexDeltaMod = 10L
  val IndexDeltaRem = 7L

  /** Rows-per-bucket target for the band index's partitioned lake
    * layout: the artifact is hive-partitioned on `pb = hash(band, bh)
    * mod P` with P sized to hold ~this many rows per bucket, so a
    * batch-sized probe (whose distinct (band, bh) keys number
    * batchDocs x Bands) reads only its matching buckets and per-batch
    * ingest cost stops scaling with the standing index (the round-15
    * StreamDedupBench floor: +38% steady-state for a 100x index, all
    * of it the unpruned artifact scan). 512 keeps partition-directory
    * counts sane at the measured scales (sf0.1 -> 64 buckets, x100 ->
    * ~6.3k) while making bucket count outgrow batch key count — the
    * condition for pruning to bite.
    */
  val IndexBucketTarget = 512L
  val IndexBucketMin = 8

  /** Bucket count for a band index holding `bandRows` rows. */
  def indexBucketsFor(bandRows: Long): Int =
    math.max(IndexBucketMin,
      ((bandRows + IndexBucketTarget - 1) / IndexBucketTarget).toInt)

  /** The layout bucket of a (band, bh) key for a P-bucket index. Layout
    * ONLY — pb never reaches a query result, so the engine-specific
    * xxhash64 is fine here (unlike every result-visible hash, which is
    * md5-derived for oracle parity).
    */
  def bandBucket(p: Int): Column =
    pmod(xxhash64(col("band"), col("bh")), lit(p.toLong)).cast("int")

  /** Sidecar name recording a partitioned band index's bucket count
    * (underscore prefix: parquet readers treat it as metadata and skip
    * it during partition discovery).
    */
  private val BucketSidecar = "_graft_pb"

  /** Sidecar + manifest I/O goes through the Hadoop FileSystem API —
    * NOT java.nio — because the write path is invoked unconditionally
    * from every partitioned-artifact build: a java.nio walk would throw
    * the moment an index is pointed at an HDFS/S3 root, regressing the
    * object-store compatibility the read path deliberately preserves
    * (and the manifest's whole point is zero LIST calls on an object
    * store). The active session's Hadoop conf carries the store
    * credentials; outside a session (never on the engine paths) the
    * default conf still serves local files.
    */
  private def hadoopFs(path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    (p.getFileSystem(conf), p)
  }

  private def fsWriteString(path: String, name: String, body: String)
      : Unit = {
    val (fs, base) = hadoopFs(path)
    fs.mkdirs(base)
    val out = fs.create(new org.apache.hadoop.fs.Path(base, name), true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  private def fsReadString(path: String, name: String): Option[String] = {
    val (fs, base) = hadoopFs(path)
    val f = new org.apache.hadoop.fs.Path(base, name)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        Some(new String(buf.toByteArray, "UTF-8"))
      } finally in.close()
    }
  }

  private[graft] def writeBucketSidecar(path: String, p: Int): Unit =
    fsWriteString(path, BucketSidecar, p.toString)

  /** The bucket count a partitioned index was written with, if its
    * sidecar is present (absent => an unpartitioned/legacy layout; all
    * readers then fall back to the full scan).
    */
  def indexBuckets(path: String): Option[Int] =
    fsReadString(path, BucketSidecar)
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)

  /** File-listing manifest next to the bucket sidecar: every data
    * file's path RELATIVE to the index root, one per line, sorted —
    * the Iceberg-manifest device. Written once at build/compaction
    * time (when the writer just enumerated the files anyway) and read
    * INSTEAD of directory listing by both pruned-probe branches:
    *  - the whole-tree fallback (a delta whose keys cover most buckets
    *    — dedup_incremental_minhash's 10% carve) previously paid
    *    partition DISCOVERY over every bucket directory (~6.3k dirs at
    *    ×100, measured ~2× the flat scan); the manifest makes it one
    *    sidecar read + an explicit-file-list scan;
    *  - the pruned branch previously paid one existence probe per
    *    matching bucket; filtering manifest lines by bucket prefix
    *    needs zero FS calls — on an object store that is the
    *    difference between 0 and |batch keys| LIST requests per batch.
    * The manifest is authoritative for its immutable layout (indexes
    * are written whole with mode=overwrite and only ever replaced,
    * never edited in place — the operating assumption of every
    * dir-keyed artifact here); absent => legacy layout, all readers
    * fall back to listing.
    */
  private val FilesManifest = "_graft_files"

  private[graft] def writeFilesManifest(path: String): Unit = {
    val (fs, rawBase) = hadoopFs(path)
    val base = fs.makeQualified(rawBase)
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    if (base.toUri.getScheme == "file") {
      // Local roots walk via java.nio. The Hadoop branch below lists
      // LocatedFileStatus-es, and RawLocalFileSystem materializes each
      // one's permissions by FORKING `ls` (the non-native-IO path) —
      // thousands of process forks per manifest write from a 24 GiB
      // JVM, and under full-suite load one fork was SIGKILLed
      // (ExitCodeException 137, seen twice as a StreamingSpec
      // ingest-test failure before this branch existed). java.nio
      // stats files in-process; same relative part-file list.
      // walkFileTree, not Files.walk: a concurrent writer's _temporary
      // cleanup can delete entries mid-walk, and Files.walk surfaces
      // that as an UncheckedIOException that aborts the whole manifest
      // write. The visitor treats a vanished entry as skippable (it
      // was not a data file of this immutable layout) and does not
      // follow symlinks, matching the Hadoop listFiles branch's
      // semantics.
      import java.nio.file.{FileVisitResult, Files => NioFiles, Path => NioPath}
      import java.nio.file.attribute.BasicFileAttributes
      val root = java.nio.file.Paths.get(base.toUri)
      NioFiles.walkFileTree(root,
        new java.nio.file.SimpleFileVisitor[NioPath] {
          override def visitFile(p: NioPath,
              attrs: BasicFileAttributes): FileVisitResult = {
            if (attrs.isRegularFile &&
                p.getFileName.toString.startsWith("part-"))
              files += root.relativize(p).toString
            FileVisitResult.CONTINUE
          }
          override def visitFileFailed(p: NioPath,
              e: java.io.IOException): FileVisitResult =
            FileVisitResult.CONTINUE // vanished or unreadable: skip
        })
    } else {
      // remote schemes (hdfs/s3a/...): one ranged LIST per dir — the
      // object-store compatibility this API went Hadoop-FS for
      val baseUri = base.toUri
      val it = fs.listFiles(base, true)
      while (it.hasNext) {
        val st = it.next()
        val rel = baseUri.relativize(st.getPath.toUri).getPath
        if (rel.substring(rel.lastIndexOf('/') + 1).startsWith("part-"))
          files += rel
      }
    }
    fsWriteString(path, FilesManifest, files.sorted.mkString("\n"))
  }

  /** The manifest's relative file list, if present. */
  def indexFilesManifest(path: String): Option[Seq[String]] =
    fsReadString(path, FilesManifest)
      .map(_.linesIterator.filter(_.nonEmpty).toSeq)

  /** The bucket-directory prefix of a manifest line ("pb=12/part-..."
    * → "pb=12"); None for a root-level file.
    */
  private[graft] def bucketPrefix(f: String): Option[String] = {
    val slash = f.indexOf('/')
    if (slash > 0) Some(f.substring(0, slash)) else None
  }

  /** Manifest-driven read of the bucket dirs in `keys` (e.g. "pb=12"):
    * zero FS calls — file paths come from the manifest filtered by
    * bucket-prefix; None when no manifest exists (legacy layout).
    * An empty Some means no matching bucket holds rows. Shared by
    * every partitioned-artifact consumer (band index, partner store,
    * and [[graft.operators.Ann.readCellsPruned]]) so the manifest
    * format has ONE reader.
    */
  private[graft] def manifestFiles(path: String, keys: Set[String])
      : Option[Seq[String]] =
    indexFilesManifest(path).map(_.filter(f =>
      bucketPrefix(f).exists(keys.contains)).map(f => s"$path/$f"))

  /** Write `bands` as a pb-partitioned index at `path` with `p` buckets
    * (+ sidecar): one shuffle on pb so each bucket directory holds ONE
    * file, mode overwrite (crash-safe rebuild, like the flat layout it
    * replaces).
    */
  private[graft] def writePartitionedBands(bands: DataFrame, path: String,
                                           p: Int): Unit = {
    bands.withColumn("pb", bandBucket(p))
      .repartition(col("pb"))
      .write.mode("overwrite").partitionBy("pb").parquet(path)
    writeBucketSidecar(path, p)
    writeFilesManifest(path)
  }

  /** Read a band index at `path` pruned to the buckets `probeBands`'s
    * (band, bh) keys can possibly match — the bucket-pruned lake read
    * of a production ingest. `probeBands` should be SMALL and already
    * materialized (persisted or tiny): its distinct pb values are
    * collected (bounded by min(probe band rows, P) ints) and the read
    * is built from the EXPLICIT matching bucket directories — never
    * from whole-tree partition discovery, whose cost scales with the
    * INDEX's bucket count (measured: discovery+pruning over the x100
    * artifact's 6.3k directories cost more per batch than the full
    * flat scan it replaced; the explicit-path read is bounded by the
    * batch's own key count at any index size — the Iceberg-style
    * manifest-prune shape). A bucket directory that does not exist
    * holds no rows for those keys, so skipping it is exact.
    * Correct by construction: pb is a pure function of (band, bh), so
    * every index row that could join a probe row lives in a collected
    * bucket — the read is a superset of the join matches
    * (IndexPruneSpec pins both the equality and the pruning). Falls
    * back to the full scan on an unpartitioned layout.
    */
  private[graft] def readBandIndexPruned(s: SparkSession, path: String,
                                         probeBands: DataFrame): DataFrame =
    indexBuckets(path) match {
      case Some(p) =>
        // one straight collect, no distinct shuffle: the probe is
        // batch-sized, so deduplicating its pb values driver-side is
        // cheaper than an exchange stage per ingest batch
        val pbs = probeBands.select(bandBucket(p).as("pb"))
          .collect().map(_.getInt(0)).distinct.sorted
        def emptySlice =
          // no matching file exists: an empty index slice with the
          // band schema (probeBands carries exactly those columns)
          probeBands.select(col("doc_id"), col("sig"), col("band"),
            col("bh")).limit(0)
        if (pbs.length * 2 >= p)
          // coverage guard: the probe touches most buckets (small
          // index, or a corpus-sized delta) — pruning buys almost
          // nothing, so read the whole index. With a manifest that is
          // an explicit-file-list scan of every file (zero partition
          // DISCOVERY — measured ~2× the flat scan's cost over the
          // ×100 artifact's 6.3k dirs); legacy layouts fall back to
          // discovery.
          indexFilesManifest(path) match {
            case Some(files) if files.nonEmpty =>
              s.read.parquet(files.map(f => s"$path/$f"): _*)
            case Some(_) => emptySlice
            case None => s.read.parquet(path).drop("pb")
          }
        else
          manifestFiles(path, pbs.map(pb => s"pb=$pb").toSet) match {
            case Some(files) if files.nonEmpty => s.read.parquet(files: _*)
            case Some(_) => emptySlice
            case None =>
              // no manifest (legacy index): existence through the
              // Hadoop FS API, so the same read works against an
              // object-store index (a ranged LIST per candidate
              // bucket, bounded by the batch's key count)
              val base = new org.apache.hadoop.fs.Path(path)
              val fs = base.getFileSystem(s.sessionState.newHadoopConf())
              val dirs = pbs.toSeq
                .map(pb => new org.apache.hadoop.fs.Path(base, s"pb=$pb"))
                .filter(fs.exists)
                .map(_.toString)
              if (dirs.isEmpty) emptySlice
              else s.read.parquet(dirs: _*)
          }
      case None => s.read.parquet(path)
    }

  /** Rows-per-bucket target for the PARTNER-TEXT store's doc_id-keyed
    * layout ([[writePartitionedDocs]]): smaller than
    * [[IndexBucketTarget]] because partner rows are whole documents
    * (KBs, not a 4-column band tuple) and the probe side — verified
    * candidate pairs' doc ids — numbers hundreds, not batch x Bands.
    */
  val DocBucketTarget = 128L

  def docBucketsFor(docRows: Long): Int =
    math.max(IndexBucketMin,
      ((docRows + DocBucketTarget - 1) / DocBucketTarget).toInt)

  /** The layout bucket of a doc_id for a P-bucket partner store —
    * layout only, like [[bandBucket]]. */
  def docBucket(p: Int): Column =
    pmod(xxhash64(col("doc_id")), lit(p.toLong)).cast("int")

  /** Write (doc_id, text) partner rows as a dd-partitioned store at
    * `path` with `p` buckets (+ sidecar) — the verify tier's lake
    * layout: a candidate set's texts are fetched from its matching
    * bucket directories instead of a full corpus-text scan.
    */
  private[graft] def writePartitionedDocs(docs: DataFrame, path: String,
                                          p: Int): Unit = {
    docs.withColumn("dd", docBucket(p))
      .repartition(col("dd"))
      .write.mode("overwrite").partitionBy("dd").parquet(path)
    writeBucketSidecar(path, p)
    writeFilesManifest(path)
  }

  /** Read a partner store at `path` pruned to the buckets `ids`'s
    * doc_id values can live in — [[readBandIndexPruned]]'s device keyed
    * on doc_id. `ids` must be SMALL and materialized (the persisted
    * candidate set). Falls back to the full scan on an unpartitioned
    * layout; `emptyLike` supplies the (doc_id, text) schema when no
    * bucket matches.
    */
  private[graft] def readDocsPruned(s: SparkSession, path: String,
      ids: DataFrame, emptyLike: DataFrame): DataFrame =
    indexBuckets(path) match {
      case Some(p) =>
        val dds = ids.select(docBucket(p).as("dd"))
          .collect().map(_.getInt(0)).distinct.sorted
        def emptySlice = emptyLike.select(col("doc_id"), col("text")).limit(0)
        if (dds.length * 2 >= p)
          indexFilesManifest(path) match {
            case Some(files) if files.nonEmpty =>
              s.read.parquet(files.map(f => s"$path/$f"): _*)
            case Some(_) => emptySlice
            case None => s.read.parquet(path).drop("dd")
          }
        else
          manifestFiles(path, dds.map(dd => s"dd=$dd").toSet) match {
            case Some(files) if files.nonEmpty => s.read.parquet(files: _*)
            case Some(_) => emptySlice
            case None =>
              val base = new org.apache.hadoop.fs.Path(path)
              val fs = base.getFileSystem(s.sessionState.newHadoopConf())
              val dirs = dds.toSeq
                .map(dd => new org.apache.hadoop.fs.Path(base, s"dd=$dd"))
                .filter(fs.exists)
                .map(_.toString)
              if (dirs.isEmpty) emptySlice
              else s.read.parquet(dirs: _*)
          }
      case None => s.read.parquet(path)
    }

  /** Build-or-load the PERSISTED MinHash band index for dir's corpus
    * documents: (doc_id, sig, band, bh) parquet partitioned by the
    * [[bandBucket]] layout key, written once per corpus and read back
    * by every delta run — the artifact that makes incremental dedup
    * incremental. At 100 TB this is the lake table a daily-ingest
    * pipeline maintains (append new docs' bands after each accepted
    * batch); the pb partitioning is what lets a batch-sized probe read
    * only its matching buckets ([[readBandIndexPruned]]) instead of
    * scanning the whole artifact. Here it is a tmp-dir parquet keyed by
    * corpus path, memoized per JVM, overwrite-on-build (crash-safe: a
    * torn write is rewritten whole on the next call).
    */
  def minhashIndexPath(s: SparkSession, dir: String): String =
    indexPathCache.computeIfAbsent(dir, { _ =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val path = new java.io.File(
        sys.props("java.io.tmpdir"),
        s"graft-minhash-index-${md.take(12)}").getAbsolutePath
      val corpus = table(s, dir, "documents")
        .filter(col("doc_id") % IndexDeltaMod =!= IndexDeltaRem)
      // bucket count from the corpus row count (one near-metadata
      // count): bands ~= docs x Bands pre-cap, and the cap drops few
      val p = indexBucketsFor(corpus.count() * Bands)
      writePartitionedBands(minhashBands(s, corpus), path, p)
      path
    })
  private val indexPathCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Incremental MinHash dedup (oracle-checked): dedup a newly-ingested
    * DELTA batch against an already-indexed corpus WITHOUT rescanning
    * the corpus — the daily-ingest shape at 100 TB, where re-running
    * [[dedupMinhash]] over corpus+delta would re-shingle and re-hash
    * the full archive for every batch. The corpus's band index is a
    * persisted parquet artifact ([[minhashIndexPath]] — built once,
    * read back here); per batch the engine computes signatures/bands
    * for the DELTA ONLY (~10% of the corpus work), then finds
    * candidates two ways: delta-vs-index (a (band, bh)-keyed
    * shuffle-hash join with the small delta side as build — no
    * ordering constraint, any indexed doc is a valid dup target) and
    * delta-vs-delta (the batch self-join device, lower id wins). Both
    * candidate streams pass the SAME tier-1 signature-estimate gate
    * and tier-2 exact-Jaccard verify as the batch operator; verdicts
    * cover ONLY delta docs (the corpus is already deduped —
    * incremental semantics), with dup_of = the lowest-id verified
    * partner (indexed or delta).
    *
    * Bucket caps apply per side (index capped at build, delta capped
    * per batch) — the combined-view cap of the batch operator would
    * need cross-batch bucket counts, i.e. an index update per probe;
    * the per-side cap is the standard incremental trade and the oracle
    * mirrors it exactly.
    */
  def dedupIncrementalMinhash(s: SparkSession, dir: String,
                              threshold: Double = 0.8): DataFrame = {
    val docsRaw = table(s, dir, "documents")
    val delta = docsRaw.filter(
      col("doc_id") % IndexDeltaMod === IndexDeltaRem)
    // Full artifact scan, deliberately unpruned: THIS query's delta is
    // the 10% corpus carve, whose band keys cover every pb bucket at
    // any scale — a bucket-pruned read would collect a full bucket list
    // to prune nothing (and would force an eager banding pass at plan-
    // build time). Bucket pruning pays on BATCH-sized probes, which is
    // where it runs: DedupStream.processBatch / the ingest benches.
    val index = s.read.parquet(minhashIndexPath(s, dir)).drop("pb")
    incrementalVerdicts(delta, minhashBands(s, delta), index,
      docsRaw.select(col("doc_id"), col("text")), threshold)
  }

  /** The shared candidate + verify + verdict core of the incremental
    * MinHash shape: dedup `delta` (whose capped bands are `bandsD`)
    * against an `index` of already-accepted bands, with `partners` =
    * (doc_id, text) for every document a candidate pair may touch
    * (index docs AND the delta itself). Factored out so the batch
    * operator ([[dedupIncrementalMinhash]]) and the streaming ingest
    * fold ([[graft.streaming.DedupStream]]) run the IDENTICAL
    * arithmetic — the streaming spec's verdict-equality proof depends
    * on it.
    */
  private[graft] def incrementalVerdicts(delta: DataFrame,
      bandsD: DataFrame, index: DataFrame, partners: DataFrame,
      threshold: Double): DataFrame =
    incrementalVerify(delta,
      incrementalCandidates(bandsD, index, threshold), partners, threshold)

  /** Tier-1 candidate generation of the incremental shape: delta bands
    * probe the index (cross pairs) and self-join (intra pairs), both
    * through the signature-estimate gate. Factored from
    * [[incrementalVerdicts]] so the streaming ingest can MATERIALIZE
    * the (tiny) candidate set and prune its partner-text read to the
    * candidates' doc-id buckets ([[readDocsPruned]]) — the arithmetic
    * stays single-sourced.
    */
  private[graft] def incrementalCandidates(bandsD: DataFrame,
      index: DataFrame, threshold: Double): DataFrame = {
    // delta probes the index: delta is the (hinted) hash-join build
    // side — it is the small side by construction, and the index
    // streams; broadcast would ship the delta to every executor too,
    // but the pinned SHJ also holds when a batch is occasionally large.
    // The a =!= b guard never binds for the batch operator (sides are
    // disjoint by the modulus split) — it is belt-and-braces for any
    // caller whose index could transiently contain a delta doc's own
    // bands (a replayed streaming batch).
    val candCross = bandsD.as("d").hint("shuffle_hash").join(
        index.as("c"),
        col("d.band") === col("c.band") && col("d.bh") === col("c.bh") &&
          col("d.doc_id") =!= col("c.doc_id") &&
          sigEstimateOk(col("d.sig"), col("c.sig"), threshold))
      .select(col("c.doc_id").as("a"), col("d.doc_id").as("b"))
    val candIntra = bandsD.as("x").hint("merge").join(bandsD.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id") &&
          sigEstimateOk(col("x.sig"), col("y.sig"), threshold))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
    candCross.union(candIntra)
  }

  /** Tier-2 exact verify + verdict assembly of the incremental shape.
    * Partner texts are fetched in ONE scan: each candidate pair melts
    * into (pair, role, doc_id) rows, joins `partners` once, and
    * reassembles per pair — the previous two-join formulation scanned
    * the corpus-sized partner table TWICE per run (measured at the
    * x100 ingest ladder as the residual per-batch floor after the band
    * index was pruned). Survivor frames are tiny (band-collision pairs
    * past the signature gate), so the melt/regroup shuffles nothing of
    * corpus size, and the pair texts and Jaccard arithmetic are
    * byte-identical to the two-join shape — the oracle is untouched.
    */
  private[graft] def incrementalVerify(delta: DataFrame,
      candidates: DataFrame, partners: DataFrame,
      threshold: Double): DataFrame = {
    val melted = candidates
      .select(col("a"), col("b"), explode(array(
        struct(lit("a").as("role"), col("a").as("doc_id")),
        struct(lit("b").as("role"), col("b").as("doc_id")))).as("r"))
      .select(col("a"), col("b"), col("r.role").as("role"),
        col("r.doc_id").as("doc_id"))
    val joined = broadcast(melted).join(partners, "doc_id")
    val paired = joined.groupBy(col("a"), col("b"))
      .agg(max(when(col("role") === "a", col("text"))).as("ta"),
        max(when(col("role") === "b", col("text"))).as("tb"))
      // an id missing from partners surfaced as a dropped pair in the
      // two-join shape; the regrouped row would carry a null text —
      // drop it the same way (never happens for a well-formed store)
      .filter(col("ta").isNotNull && col("tb").isNotNull)
    val verified = paired
      .withColumn("sa", T.wordShingles(col("ta"), 3))
      .withColumn("sb", T.wordShingles(col("tb"), 3))
      .withColumn("jaccard",
        size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))).cast("double"))
      .filter(col("jaccard") >= threshold)
    val dupOf = verified.groupBy(col("b").as("doc_id"))
      .agg(min(col("a")).as("dup_of"), max(col("jaccard")).as("best_jaccard"))
    delta.select(col("doc_id"))
      .join(dupOf, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"),
        round(col("best_jaccard"), 4).as("best_jaccard"),
        col("dup_of").isNull.as("keep"))
  }

  // ------------------------------------------------------------- SimHash

  /** SimHash signature width. 60 bits, not 64: the per-token hash is the
    * first 15 hex chars of md5 — an engine-agnostic hash (DuckDB computes
    * the identical value with `CAST('0x' || substr(md5(tok),1,15) AS
    * BIGINT)`), which makes the WHOLE simhash pipeline — signatures,
    * pigeonhole chunks, Hamming verify — expressible in oracle SQL and
    * hash-checked, where an xxhash64-based signature could only ever get a
    * rows-only check. 60 bits also dodges the sign bit, so bit packing is
    * plain non-overflowing BIGINT arithmetic in both engines.
    */
  val SimhashBits = 60
  val SimhashChunks = 4
  val SimhashChunkBits: Int = SimhashBits / SimhashChunks

  /** 60-bit SimHash per document, computed in the distributed-friendly
    * shape: explode tokens → one shuffle → 60 per-bit vote sums in a single
    * hash aggregate → pack bits. One pass over tokens regardless of corpus
    * size (vs. folding 60 times per row inside a projection).
    */
  def simhashSignatures(s: SparkSession, dir: String): DataFrame = {
    val tok = table(s, dir, "documents")
      .select(col("doc_id"), explode(T.tokens(col("text"))).as("tok"))
      // md5_prefix60 = conv(substring(md5(tok),1,15),16,10), minus the
      // hex string round trip (codegen'd; see Md5Ops)
      .withColumn("h", T.md5Prefix60(col("tok")))
    val voteCols = (0 until SimhashBits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"v$j")
    }
    val packed = (0 until SimhashBits).map { j =>
      when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    tok.groupBy(col("doc_id")).agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"), packed.as("simhash"))
  }

  /** SimHash near-dup (oracle-checked — see [[SimhashBits]]). Candidates
    * via the pigeonhole trick: any pair within Hamming distance 3 of a
    * 60-bit signature agrees exactly on at least one of 4 15-bit chunks,
    * so exploding 4 chunk keys and joining on (chunk_idx, chunk_value)
    * finds all such pairs without a quadratic scan. Verification =
    * bit_count(xor) <= maxHamming.
    */
  def dedupSimhash(s: SparkSession, dir: String,
                   maxHamming: Int = 3): DataFrame = {
    val sigs = simhashSignatures(s, dir)
    val chunkMask = (1L << SimhashChunkBits) - 1L
    val chunks = capBuckets(
      sigs.select(col("doc_id"), col("simhash"),
        explode(array((0 until SimhashChunks).map { c =>
          struct(lit(c).as("ci"),
            shiftright(col("simhash"), c * SimhashChunkBits)
              .bitwiseAND(lit(chunkMask)).as("cv"))
        }: _*)).as("ch"))
        .select(col("doc_id"), col("simhash"),
          col("ch.ci").as("ci"), col("ch.cv").as("cv")),
      Seq("ci", "cv"))
    // merge hint for the same two reasons as dedupMinhash: corpus-sized
    // sides must not broadcast, and SMJ's (ci, cv) exchanges are reused
    // from the bucket-cap window — one signature pass for both sides.
    val cands = chunks.as("x").hint("merge").join(chunks.as("y"),
        col("x.ci") === col("y.ci") && col("x.cv") === col("y.cv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("x.simhash").as("ha"),
        col("y.doc_id").as("b"), col("y.simhash").as("hb")).distinct()
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHamming)
    val dupOf = cands.groupBy(col("b").as("doc_id"))
      .agg(min(col("a")).as("dup_of"), min(col("hamming")).as("best_hamming"))
    sigs.join(dupOf, Seq("doc_id"), "left")
      .select(col("doc_id"), col("simhash"), col("dup_of"),
        col("best_hamming"), col("dup_of").isNull.as("keep"))
  }

  // ----------------------------------- SimHash at corpus scale (Manku)

  /** [[dedupSimhashScaled]] block geometry: 6 blocks × 10 bits. The
    * plain 4-chunk pigeonhole ([[dedupSimhash]]) has a HARD key-space
    * ceiling — 2^15 values per chunk position, so cells grow ∝
    * n/65,536 and the [[MaxBucket]] cap starts mass-dropping around
    * n ≈ 13M docs (silent recall loss). The Manku et al. (2007)
    * parameterization fixes the ceiling structurally: split the
    * signature into MORE blocks than the Hamming budget can damage and
    * key on COMBINATIONS — ≤3 flipped bits damage ≤3 of 6 blocks, so
    * every qualifying pair agrees exactly on some 3-block combo, and
    * the C(6,3) = 20 tables of 30-bit keys give a 2^30 key space per
    * table: cells ∝ n/2^30 stay sub-[[MaxBucket]] to ~10¹¹ docs. The
    * price is 20 exploded rows/doc instead of 4 — the documented
    * candidate-machinery constant a corpus that large pays.
    */
  val SimhashScaledBlocks = 6
  val SimhashScaledBlockBits: Int = SimhashBits / SimhashScaledBlocks
  val SimhashScaledKeep = 3

  /** The C(blocks, keep) block triples, in deterministic lexicographic
    * order — shared by the plan and the oracle generator.
    */
  def simhashBlockCombos: Seq[Seq[Int]] =
    (0 until SimhashScaledBlocks).combinations(SimhashScaledKeep)
      .map(_.toSeq).toSeq

  /** SimHash near-dup with Manku multi-table blocking (oracle-checked;
    * see [[SimhashScaledBlocks]]). Same signatures, same Hamming ≤
    * `maxHamming` verify, same output schema as [[dedupSimhash]] — the
    * ONLY change is the candidate key structure, so at any SF where
    * neither variant's cap binds, the two results are identical row for
    * row (PipelineSpec pins that equivalence; the oracle re-derives
    * this variant's combos independently).
    */
  def dedupSimhashScaled(s: SparkSession, dir: String,
                         maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= SimhashScaledBlocks - SimhashScaledKeep,
      s"maxHamming=$maxHamming can damage more than " +
        s"${SimhashScaledBlocks - SimhashScaledKeep} blocks — the " +
        "pigeonhole guarantee needs keep <= blocks - maxHamming")
    val sigs = simhashSignatures(s, dir)
    val bmask = (1L << SimhashScaledBlockBits) - 1L
    def block(c: Int) =
      shiftright(col("simhash"), c * SimhashScaledBlockBits)
        .bitwiseAND(lit(bmask))
    val keys = simhashBlockCombos.zipWithIndex.map { case (combo, t) =>
      struct(lit(t).as("ti"),
        combo.zipWithIndex.map { case (c, pos) =>
          shiftleft(block(c), pos * SimhashScaledBlockBits)
        }.reduce(_ + _).as("kv"))
    }
    val keyed = capBuckets(
      sigs.select(col("doc_id"), col("simhash"),
        explode(array(keys: _*)).as("k"))
        .select(col("doc_id"), col("simhash"),
          col("k.ti").as("ti"), col("k.kv").as("kv")),
      Seq("ti", "kv"))
    val cands = keyed.as("x").hint("merge").join(keyed.as("y"),
        col("x.ti") === col("y.ti") && col("x.kv") === col("y.kv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("x.simhash").as("ha"),
        col("y.doc_id").as("b"), col("y.simhash").as("hb")).distinct()
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHamming)
    val dupOf = cands.groupBy(col("b").as("doc_id"))
      .agg(min(col("a")).as("dup_of"),
        min(col("hamming")).as("best_hamming"))
    sigs.join(dupOf, Seq("doc_id"), "left")
      .select(col("doc_id"), col("simhash"), col("dup_of"),
        col("best_hamming"), col("dup_of").isNull.as("keep"))
  }

  /** Hex-md5 coin prefix selecting the "new batch" for
    * [[dedupIncremental]] — '10000000' of 'ffffffff' ≈ 6.25% of docs
    * (deterministic, the split_assign device).
    */
  val IncrementalBatchCoin = "10000000"

  /** Incremental dedup (oracle-checked) — the daily-ingest shape: a
    * small NEW batch is checked against the standing corpus INDEX with
    * NO corpus self-join anywhere. Here the batch is carved
    * deterministically (md5 coin on doc_id) so the operator is
    * hash-checkable; in production the batch is the day's crawl and the
    * index is the already-ingested corpus, with index signatures
    * typically precomputed and stored.
    *
    * Two tiers, the BATCH always the broadcast side (the index only
    * ever streams — the only direction that survives an index that
    * doesn't fit anywhere):
    *  - exact: normalized-text equality against the index;
    *  - near: 60-bit simhash (one corpus-wide signature pass), pigeonhole
    *    chunk join against capped index buckets, Hamming <= maxHamming.
    * Output: one row per batch doc — exact/near matches and the ingest
    * verdict.
    */
  def dedupIncremental(s: SparkSession, dir: String,
                       maxHamming: Int = 3): DataFrame = {
    val isBatch =
      substring(md5(col("doc_id").cast("string")), 1, 8) <
        IncrementalBatchCoin
    val withNorm = table(s, dir, "documents")
      .select(col("doc_id"), normText(col("text")).as("norm"),
        isBatch.as("is_batch"))
    val batch = withNorm.filter(col("is_batch"))
    val index = withNorm.filter(!col("is_batch"))
    val exact = broadcast(batch.select(col("doc_id"), col("norm")))
      .join(index.select(col("doc_id").as("ix"), col("norm")), "norm")
      .groupBy(col("doc_id")).agg(min(col("ix")).as("exact_dup_of"))
    val sigs = simhashSignatures(s, dir) // whole corpus, one pass
    val chunkMask = (1L << SimhashChunkBits) - 1L
    def chunksOf(df: DataFrame): DataFrame =
      df.select(col("doc_id"), col("simhash"),
        explode(array((0 until SimhashChunks).map { c =>
          struct(lit(c).as("ci"),
            shiftright(col("simhash"), c * SimhashChunkBits)
              .bitwiseAND(lit(chunkMask)).as("cv"))
        }: _*)).as("ch"))
        .select(col("doc_id"), col("simhash"),
          col("ch.ci").as("ci"), col("ch.cv").as("cv"))
    val batchChunks = chunksOf(sigs.filter(isBatch))
    val indexChunks = capBuckets(chunksOf(sigs.filter(!isBatch)),
      Seq("ci", "cv"))
    val near = broadcast(batchChunks)
      .join(indexChunks.select(col("doc_id").as("ix"),
        col("simhash").as("hx"), col("ci"), col("cv")), Seq("ci", "cv"))
      .withColumn("hamming", bit_count(col("simhash").bitwiseXOR(col("hx"))))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("doc_id"))
      .agg(min(col("ix")).as("near_dup_of"),
        min(col("hamming")).as("best_hamming"))
    batch.select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_dup_of"), col("near_dup_of"),
        col("best_hamming"),
        (col("exact_dup_of").isNull && col("near_dup_of").isNull).as("keep"))
  }

  // ------------------------------------------------- blocked n-gram Jaccard

  /** Blocks larger than this are dropped (guard only — with the min-gram
    * refinement below the cap should essentially never bind; it exists so
    * no degenerate block can ever go quadratic at scale).
    */
  val MaxBlock = 200

  /** Character-4-gram Jaccard near-dup (oracle-checked — fully expressible
    * in SQL, including every scale device below).
    *
    * Blocking key is (lang, length-bucket, min-gram): the md5-minimum
    * sampled gram is a 1-hash MinHash, so near-identical docs (J≈0.98)
    * share it with p≈J while the key's cardinality GROWS with the corpus —
    * unlike a bare length bucket, whose fixed cardinality makes every block
    * linear in corpus size and the pair join quadratic. A window-count cap
    * (MaxBlock) guards the residue. Measured at sf0.1: identical output to
    * the unrefined formulation (70/70 pairs), pair count 394k → well under
    * 10k reaching the exact verify.
    *
    * Per-pair work is tiered, everything mirrored exactly in the oracle SQL:
    *  - deterministic 1/4 gram sampling by md5-prefix (md5 hex is
    *    engine-agnostic, unlike xxhash) — an unbiased Jaccard estimator
    *    that cuts per-pair set work ~16x;
    *  - size-ratio prefilter: J(A,B) <= min(|A|,|B|)/max(|A|,|B|);
    *  - 8-chunk mini-signature prefilter: the per-gram md5 is split into
    *    eight 16-bit chunks and min-reduced per chunk (8 more 1-hash
    *    MinHashes, free — no extra hashing); a pair must agree on >= 5 of 8
    *    before the exact intersect runs. P(component match) ≈ J, so J≈0.3
    *    non-dups pass with p≈0.1 while J≥0.8 dups pass with p≈0.99;
    *  - union-free Jaccard: |A∪B| = |A|+|B|-|A∩B|.
    */
  def dedupNgramJaccard(s: SparkSession, dir: String,
                        threshold: Double = 0.8): DataFrame = {
    val sampled = filter(T.charNgrams(col("text"), 4),
      x => substring(md5(x), 1, 1).isInCollection(Seq("0", "1", "2", "3")))
    // Round-robin spread BEFORE the n-gram profile projection: the profile
    // (interpreted ngram/md5 transforms, mirrored 1:1 in the oracle SQL) is
    // the expensive per-row pass, and locally the table is a single
    // parquet split — computed pre-exchange it would run in one task.
    // Join keys are wrapped non-nullable (coalesce with sentinels):
    // otherwise the pair join's inferred IsNotNull(mg) — whose expression
    // is the ENTIRE interpreted n-gram profile — is pushed below the
    // round-robin exchange and evaluated serially in the single-split scan
    // stage, doubling the profile pass and serializing half of it
    // (measured: ~2.5 s of a 4.7 s query). Null-key rows are dropped FIRST
    // (plain-column filters, cheap at the scan), so the lang/blk sentinels
    // never actually bind and SQL null-join semantics are preserved
    // exactly; the mg sentinel only marks empty gram sets, which the n > 0
    // predicate rejects from pairing anyway.
    val g = table(s, dir, "documents")
      .filter(col("lang").isNotNull && col("n_chars").isNotNull)
      .repartition(s.sparkContext.defaultParallelism).select(
      col("doc_id"), coalesce(col("lang"), lit("")).as("lang"),
      coalesce(floor(col("n_chars") / 64), lit(-1L)).as("blk"),
      sampled.as("ng"))
      .withColumn("n", size(col("ng")))
      .withColumn("mgs", transform(col("ng"), x => md5(x)))
      .withColumn("mg", coalesce(array_min(col("mgs")), lit("")))
      .withColumn("sig", array((0 until 8).map(i =>
        array_min(transform(col("mgs"), m => substring(m, 1 + 4 * i, 4)))): _*))
      .drop("mgs")
    // Explicit-N repartition on the block key (see capBuckets for why:
    // pins the partition count of the CPU-bound pair stage against AQE
    // coalescing, satisfies the window's clustering, and is the exchange
    // both merge-join sides reuse).
    val wb = Window.partitionBy(col("lang"), col("blk"), col("mg"))
    val capped = g
      .repartition(s.sparkContext.defaultParallelism,
        col("lang"), col("blk"), col("mg"))
      .withColumn("bsz", count(lit(1)).over(wb))
      .filter(col("bsz") <= MaxBlock).drop("bsz")
    // merge hint: the pair join shuffles BOTH sides on the block key —
    // which is the exchange the cap window already planted, so the n-gram
    // profile pass is computed once and reused; parallelism comes from the
    // key shuffle (no round-robin repartition needed), and nothing
    // corpus-sized is ever broadcast.
    // inter is materialized as an attribute before reuse so the (costly)
    // array_intersect runs once per pair, not once per reference
    capped.as("a").hint("merge").join(capped.as("b"),
        col("a.lang") === col("b.lang") && col("a.blk") === col("b.blk") &&
          col("a.mg") === col("b.mg") &&
          col("a.doc_id") < col("b.doc_id") && col("a.n") > 0 &&
          least(col("a.n"), col("b.n")).cast("double") >=
            greatest(col("a.n"), col("b.n")).cast("double") * threshold &&
          aggregate(zip_with(col("a.sig"), col("b.sig"),
            (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _) >= 5)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"),
        size(array_intersect(col("a.ng"), col("b.ng"))).as("inter"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  // --------------------------------------------------- winnowing overlap

  /** Minimum shared winnowed fingerprints AND minimum overlap ratio
    * (shared / smaller fingerprint set) for a near-dup verdict — the
    * absolute floor rejects tiny-doc noise, the ratio rejects the
    * boilerplate overlap that templated corpora share broadly.
    */
  val MinSharedFps = 5
  val MinSharedRatio = 0.5

  /** Winnowing-overlap near-dup (the MOSS approach, Schleimer et al.
    * SIGMOD'03): docs whose winnowed fingerprint sets overlap by
    * >= MinSharedRatio (and at least MinSharedFps) are near-duplicates.
    * The fingerprint VALUE is the blocking key — its cardinality grows
    * with the corpus — and buckets are capped like every other pair
    * source (see the guard inventory in COVERAGE.md); dropping hot
    * buckets doubles as an IDF filter (common boilerplate carries no
    * dedup signal).
    *
    * Fingerprints come from the md5-gram SQL device
    * (TextFunctions.gramHashes/windowMins — hash-checked against a
    * DuckDB mirror of the whole pipeline).
    */
  def dedupWinnow(s: SparkSession, dir: String,
                  minShared: Int = MinSharedFps,
                  minRatio: Double = MinSharedRatio): DataFrame = {
    val docs = table(s, dir, "documents")
    val par = s.sparkContext.defaultParallelism
    // md5_winnow_set is the COMPILED twin of the SQL-device formulation
    // array_distinct(T.windowMins(T.gramHashes(text))) — value-identical
    // (pinned in WinnowSpec), ~40x faster (one codegen'd call per row vs
    // interpreted per-window slice lambdas)
    val fpSet = T.md5WinnowSet(col("text"))
    // per-doc fp dedup happens INSIDE the row (array_distinct before the
    // explode) — a post-explode distinct() would shuffle the whole
    // fingerprint stream for the same result
    val fps = docs.repartition(par)
      .select(col("doc_id"), explode(fpSet).as("fp"))
    val capped = capBuckets(fps, Seq("fp"))
    val counts = capped.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    val shared = capped.as("x").hint("merge").join(capped.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(counts.select(col("doc_id").as("a"), col("nf").as("na")), "a")
      .join(counts.select(col("doc_id").as("b"), col("nf").as("nb")), "b")
      .withColumn("ratio", col("n_shared").cast("double") /
        least(col("na"), col("nb")).cast("double"))
      .filter(col("ratio") >= minRatio)
    val dupOf = shared.groupBy(col("b").as("doc_id"))
      .agg(min(col("a")).as("dup_of"), max(col("n_shared")).as("best_shared"))
    docs.select(col("doc_id"))
      .join(dupOf, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"), col("best_shared"),
        col("dup_of").isNull.as("keep"))
  }

  // ------------------------------------------------- transitive clusters

  /** Label-propagation round cap. Each round combines neighbor
    * propagation with pointer jumping (label := label of label), which
    * halves the remaining distance to the root — components of diameter
    * up to ~2^MaxLpRounds converge. Non-convergence within the cap throws
    * (silently-partial clusters would diverge from the exact
    * transitive-closure oracle).
    */
  val MaxLpRounds = 12

  /** Target rows per partition for the label-propagation loop frames. The
    * member set (docs in a verified near-dup pair) is orders of magnitude
    * smaller than the corpus, so after materializing the edges once we
    * size the loop's frames from the ACTUAL edge count instead of running
    * every round at full shuffle parallelism — at test scale that is 1
    * partition (a few hundred edges), on a 100 TB corpus with a
    * billion-edge member graph it is still thousands of partitions.
    */
  val LpEdgesPerPartition = 250000

  /** Reliable `checkpoint()` when the caller has set a checkpoint dir
    * (`sparkContext.setCheckpointDir` — the executor-loss-safe cluster
    * path), `localCheckpoint()` otherwise (single-node / test path).
    * Both truncate lineage so iterative plans don't grow per round.
    */
  private def checkpointed(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** Backing storage of an eagerly checkpointed frame — Spark never
    * reclaims either form itself on the timescale of a query session:
    * reliable-checkpoint FILES are never deleted (spark.cleaner
    * cleanCheckpoints defaults to false), and localCheckpoint BLOCKS sit
    * in the block manager until the ContextCleaner's periodic GC (30 min
    * default) happens to collect the RDD. Iterative operators must
    * release their own dead intermediates or every run leaks the whole
    * round history — to reliable storage in cluster mode, to
    * storage-memory pressure in local mode (the r6 dedup_clusters bench
    * drift: hundreds of dead round-frames accumulated across a
    * 144-query x 3-rep session).
    */
  private final class CkptStorage(df: DataFrame) {
    private val rdd = df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }
    val file: Option[String] = rdd.flatMap(_.getCheckpointFile)

    /** Delete the checkpoint file (reliable form) and drop the block-
      * manager blocks (local form). Only call once nothing can read the
      * frame again — the lineage is truncated, there is no recompute.
      */
    def release(s: SparkSession): Unit = {
      file.foreach(f => deleteCheckpointFiles(s, Seq(f)))
      rdd.foreach(_.unpersist(blocking = false))
    }
  }

  private def deleteCheckpointFiles(s: SparkSession,
                                    files: Seq[String]): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    files.foreach { f =>
      try {
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(conf).delete(p, true)
      } catch { case _: java.io.IOException => () } // best-effort cleanup
    }
  }

  /** Transitive duplicate clusters: hash-min label propagation over the
    * verified near-dup pairs until fixpoint, so every member of a connected
    * component points at one canonical root (the component's min doc_id) —
    * `dup_of` chains collapse to a single representative.
    *
    * Edges come from [[dedupNgramJaccard]] because those pairs are fully
    * SQL-expressible: the whole query — closure included — is
    * oracle-checked (DuckDB `WITH RECURSIVE` transitive closure).
    *
    * Scale shape: each round is one key join + one min-aggregate over the
    * MEMBER set (docs appearing in a verified pair — orders of magnitude
    * smaller than the corpus), run at a parallelism derived from the
    * materialized edge count, in exactly ONE action (the convergence
    * count is an `observe` metric of the checkpoint pass). Checkpoints
    * truncate the per-round lineage; set
    * `sparkContext.setCheckpointDir(...)` on a real cluster to make them
    * reliable (executor-loss tolerance) — [[checkpointed]] picks it up
    * automatically, same plan otherwise.
    */
  def dedupClusters(s: SparkSession, dir: String,
                    threshold: Double = 0.8): DataFrame = {
    // Symmetrize by exploding both directions out of ONE pairs subtree —
    // a self-union would embed (and compute) the whole verified-pair
    // pipeline twice inside the checkpoint stage.
    // Reliable checkpoints (edges + every round's labels) are cleaned up
    // as soon as they are dead — Spark never cleans checkpoint dirs
    // itself: a round's labels are deleted the moment the NEXT round is
    // materialized (each round reads only its predecessor), the edges
    // file after the loop, and on ANY failure (including the
    // non-convergence throw) the finally block removes everything
    // tracked so nothing leaks to reliable storage.
    val edgesRaw = checkpointed(dedupNgramJaccard(s, dir, threshold)
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst")))
    val edgesStorage = new CkptStorage(edgesRaw)
    // Size the loop frames from the MATERIALIZED edge count (a cheap scan
    // of the checkpoint): the per-round fixed cost is stage scheduling,
    // and running a few-hundred-row graph at full shuffle parallelism
    // bills ~32 tasks x ~5 stages x MaxLpRounds for nothing. coalesce is
    // narrow — no extra shuffle, no recompute of the checkpointed RDD.
    val nEdges = edgesRaw.count()
    val lpParts = math.max(1L, math.min(
      s.sparkContext.defaultParallelism.toLong,
      nEdges / LpEdgesPerPartition + 1L)).toInt
    val edges = edgesRaw.coalesce(lpParts)
    // Each round is ONE aggregation AND one Spark action: the node's
    // previous label rides along (tagged `self`), so min-label,
    // has-anything-changed, and the convergence COUNT all come out of the
    // same checkpoint-materializing pass — the changed-row count is an
    // `observe` metric on that action, not a second job.
    var labels = edges
      .select(col("src").as("doc_id"), col("src").as("label")).distinct()
    var prevLabels: Option[CkptStorage] = None
    var converged = false
    try {
      var changed = 1L
      var round = 0
      while (changed > 0 && round < MaxLpRounds) {
        val fromNeighbors = edges
          .join(labels.select(col("doc_id").as("src"), col("label")), "src")
          .select(col("dst").as("doc_id"), col("label"),
            lit(false).as("self"))
        // pointer jump: also adopt the label OF the current label (labels
        // are always member doc_ids, so the inner join always hits) —
        // distance-to-root halves per round instead of shrinking by one
        val viaJump = labels.as("a")
          .join(labels.select(col("doc_id").as("label"),
            col("label").as("jlabel")), "label")
          .select(col("doc_id"), col("jlabel").as("label"),
            lit(false).as("self"))
        val obs = org.apache.spark.sql.Observation(s"lp_round_$round")
        val next = checkpointed(labels
          .select(col("doc_id"), col("label"), lit(true).as("self"))
          .union(fromNeighbors).union(viaJump)
          .groupBy(col("doc_id"))
          .agg(min(col("label")).as("label"),
            min(when(col("self"), col("label"))).as("prev"))
          .coalesce(lpParts)
          .observe(obs, coalesce(
            sum(when(col("label") =!= col("prev"), 1L).otherwise(0L)),
            lit(0L)).as("changed")))
        changed = obs.get("changed").asInstanceOf[Long]
        // this round is materialized: its predecessor's storage is dead
        // (files in cluster mode, block-manager blocks in local mode)
        prevLabels.foreach(_.release(s))
        prevLabels = Some(new CkptStorage(next))
        labels = next.select(col("doc_id"), col("label"))
        round += 1
      }
      require(changed == 0L,
        s"label propagation did not converge in $MaxLpRounds rounds " +
          "(component diameter > 2^rounds?) — refusing to emit partial " +
          "clusters that would diverge from the transitive closure")
      converged = true
    } finally {
      // edges are read by every round but by nothing downstream; on
      // failure also drop the last round's labels — nothing must leak
      edgesStorage.release(s)
      if (!converged) prevLabels.foreach(_.release(s))
    }
    val sizes = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("doc_id"), col("label").as("cluster_root"),
        col("cluster_size"))
  }

  // --------------------------------------------- embedding-cosine near-dup

  /** Labels are a FIXED-cardinality key, so label blocks grow linearly
    * with the corpus and the pair join would go quadratic at scale — each
    * block is TRUNCATED to its first MaxLabelBlock members by vec_id
    * (deterministic, mirrored in the oracle SQL; far above every test SF,
    * so outputs are unchanged). Members beyond the cap lose dedup
    * coverage (documented recall tradeoff, like MaxBucket); corpora whose
    * blocks outgrow it should use the hyperplane-LSH bucketing in
    * Ann.annLsh, whose key cardinality grows with the data.
    */
  val MaxLabelBlock = 100000

  /** Embedding cosine near-dup within label blocks (oracle-checked).
    * Exact double-precision cosine via zip_with/aggregate; the label acts
    * as the blocking key. The unblocked scale path is the hyperplane-LSH
    * bucketing in Ann.annLsh.
    */
  /** Hyperplane-LSH bucketed embedding near-dup (oracle-checked — the
    * seeded planes are SQL literals, so buckets, probes and the cosine
    * verify all mirror to DuckDB): the UNBOUNDED-cardinality scale path
    * [[dedupEmbedding]]'s doc points at. The blocking key is the
    * nBits-bit hyperplane signature, so bucket count is an operator KNOB
    * (size nBits ~ log2(corpus / target_bucket) as the corpus grows)
    * rather than a fixed label set. One-sided multi-probe — every vector
    * also probes its nBits one-bit-flip buckets — recovers pairs
    * straddling a single hyperplane; each qualifying pair is generated
    * exactly once (probed buckets are distinct per vector and the prober
    * is always the smaller vec_id), so no distinct() is needed. Home
    * buckets are capped like every other pair source, and the cap
    * window's Exchange(bucket) is the home side of the merge join
    * (nothing corpus-sized broadcasts).
    */
  def dedupEmbeddingLsh(s: SparkSession, dir: String,
                        threshold: Double = 0.4,
                        nBitsOpt: Int = 0): DataFrame = {
    // 0 = size-adaptive code width (Ann.bitsFor): cells track
    // Ann.TargetCellRows instead of n/64, so the cap never mass-drops
    // and the bucket join stays linear — nBits "~ log2(corpus /
    // target_bucket)" per this operator's own doc, now executable
    val nBits = if (nBitsOpt > 0) nBitsOpt
      else Ann.bitsFor(Ann.corpusCount(s, dir))
    val pl = Ann.planes(nBits, 64)
    val e = capBuckets(
      table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          V.hyperplaneBucket(col("embedding"), pl).as("bucket")),
      Seq("bucket"))
    val masks = array((0L +: (0 until nBits).map(j => 1L << j)).map(lit): _*)
    val probes = e.select(col("vec_id"), col("embedding"),
      explode(transform(masks, m => col("bucket").bitwiseXOR(m)))
        .as("bucket"))
    val pairs = probes.as("x").hint("merge").join(e.as("y"),
        col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        V.cosine(col("x.embedding"), col("y.embedding")).as("cos"))
      .filter(col("cos") >= threshold)
    val dupOf = pairs.groupBy(col("b").as("vec_id"))
      .agg(min(col("a")).as("dup_of"), max(col("cos")).as("best_cos"))
    table(s, dir, "embeddings").select(col("vec_id"))
      .join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("dup_of"),
        round(col("best_cos"), 4).as("best_cos"),
        col("dup_of").isNull.as("keep"))
  }

  // ------------------------------------------------ semantic (SemDeDup)

  /** Within-cluster cosine above this marks a semantic duplicate —
    * aligned with the 0.4 the other embedding tiers use, which on this
    * corpus sits at ~p99.8 of the within-cluster pair-cosine
    * distribution (measured via the oracle CTEs at sf0.01: 25 of 500
    * vectors pruned; 0.35 = p99 would prune 19%).
    */
  val SemDedupCos = 0.4

  /** SemDeDup cluster count — happens to equal Ann.IvfCentroids, so the
    * (dir, k) fit is shared with annIvf in one session, but named
    * separately: the two knobs scale on different contracts (IVF probes
    * cells, SemDeDup pair-checks within them). The oracle generator
    * interpolates THIS constant, so operator and mirror cannot desync.
    */
  val SemClusters = 16

  /** Target within-cluster cell size for the SIZE-ADAPTIVE cluster
    * count: 2000/16 = 125 rows at the sf0.1 calibration point, so
    * [[semClustersFor]] equals the historical [[SemClusters]] at every
    * test SF and grows k ∝ n beyond — the "k ~ sqrt(N)+" contract the
    * fitCentroids doc states, made executable. Without it a FIXED k
    * has two failure modes as the corpus grows: cells above
    * [[MaxBucket]] all get capped away (silent recall collapse — at
    * ×10 every cell is ~1250 rows vs the 200 cap) or, uncapped, the
    * within-cell pair join goes quadratic.
    */
  val SemTargetCell = 128L
  def semClustersFor(n: Long): Int =
    math.max(SemClusters, ((n + SemTargetCell - 1) / SemTargetCell).toInt)

  /** SemDeDup (Abbas et al. 2023, oracle-checked): the semantic tier
    * between exact/near-dup text matching and nothing — embeddings are
    * coarse-clustered by a KMeans quantizer, and ONLY within-cluster
    * pairs are cosine-checked; of any semantic-duplicate pair the
    * higher vec_id is pruned (min-id representative survives, matching
    * every other dedup tier here).
    *
    * Scale shape: the cluster id is the blocking key; k is the
    * corpus-scaling knob (production picks k ~ sqrt(N)+, keeping cells
    * bounded as the corpus grows — Ann.fitCentroids doc), the fit sees
    * a bounded sample, assignment is one codegen'd in-plan argmin pass
    * over centroid literals, and hot cells are capped like every other
    * pair source ([[MaxBucket]]). Oracle-checked end to end via the
    * fitted-literal device proven on ann_ivf: DuckDB recomputes
    * assignment, cap, pair cosines, and verdicts from the same centroid
    * literals, looked up in the pure memoized fit cache by dump dir
    * (Ann.cachedCentroids — no mutable last-fit state).
    */
  def dedupSemantic(s: SparkSession, dir: String,
                    nClusters: Int = 0,
                    threshold: Double = SemDedupCos): DataFrame = {
    // 0 = size-adaptive (the default): k tracks the corpus so cells
    // stay near SemTargetCell; an explicit k pins behavior
    val k = if (nClusters > 0) nClusters
      else semClustersFor(Ann.corpusCount(s, dir))
    val centroids = Ann.fitCentroids(s, dir, k)
    // assignment strategy switches at Ann.TwoLevelAssignThreshold:
    // flat exact argmin (n·k) below it — every test SF, so oracles are
    // untouched — and two-level coarse-then-fine (n·~2√k) above, the
    // n·k term SCALING.md measured at x100 removed in code. Both modes
    // run through the native VecCellAssign expression (matrix as a
    // reference object, tight primitive loop) — bit-identical to the
    // literal-array Column formulation it replaced, whose k×dim Literal
    // tree was the ×100 corpus's dominant cost (SCALING.md r14)
    val cellExpr = Ann.cellAssign(col("embedding"), centroids)
    val assigned = table(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"), cellExpr.as("cell"))
    val capped = capBuckets(assigned, Seq("cell"))
    val pairs = capped.as("x").hint("merge").join(capped.as("y"),
        col("x.cell") === col("y.cell") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        V.cosine(col("x.embedding"), col("y.embedding")).as("cos"))
      .filter(col("cos") >= threshold)
    val dupOf = pairs.groupBy(col("b").as("vec_id"))
      .agg(min(col("a")).as("dup_of"), max(col("cos")).as("best_cos"))
    assigned.select(col("vec_id"), col("cell"))
      .join(dupOf, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dup_of"),
        round(col("best_cos"), 4).as("best_cos"),
        col("dup_of").isNull.as("keep"))
  }

  // ------------------------------- prefix-filtered containment join

  /** Containment threshold: flag A when >= this fraction of A's grams
    * appear in some other document B.
    */
  val ContainThreshold = 0.8

  /** Prefix fraction = 1 - threshold, as ONE literal used verbatim by
    * both engines: Scala's `1 - 0.8` and SQL's `0.2` are different
    * doubles, and floor(n * frac) at the boundary would then disagree
    * on prefix sizes (and thus candidates) between the engines.
    */
  val ContainPrefixFrac = "0.2"

  /** Character width of containment grams: on this vocabulary-dense
    * text, gram df collapses with width (p50 df: 52 at 4 chars, 1 at
    * 12) and candidate volume with it — measured at sf0.1, width 16
    * generates 128x fewer candidate pairs than width 12 (1.6k vs 205k)
    * while flagging the same containments (510 vs 511). Selectivity of
    * the prefix filter IS the scale knob.
    */
  val ContainGramLen = 16

  /** Grams with document frequency above this never generate candidate
    * pairs (the stop-gram/IDF cut every blocker here carries; prefix
    * grams are the RAREST of each doc, so this rarely binds on them).
    */
  val MaxContainDf = 20

  /** Corpus size the [[MaxContainDf]] cut was calibrated at (sf0.1's
    * 5000 documents). The cut grows with the SQUARE ROOT of the corpus:
    * a fixed cut slowly excludes grams whose df drifts up as a real
    * corpus grows (recall erosion), while a cut ∝ N is catastrophic on
    * repeat-heavy corpora where EVERY gram's df scales with N — the ×100
    * measurement of the linear rule re-admitted near-quadratic candidate
    * volume (Σ df² over surviving grams) and killed the driver. √N keeps
    * candidate volume per gram bounded by the cut while still tracking
    * df drift; equal to the historical constant at every test SF.
    */
  val ContainDfCalibDocs = 5000L
  def containMaxDfFor(nDocs: Long): Int =
    math.max(MaxContainDf, math.round(MaxContainDf *
      math.sqrt(nDocs.toDouble / ContainDfCalibDocs)).toInt)

  /** Cached documents row count per dir — the [[containMaxDfFor]]
    * input; the oracle generator reads [[cachedDocCount]] (fail-closed
    * to the calibration constant, exact at every gate SF).
    */
  def docCount(s: SparkSession, dir: String): Long =
    docCountCache.computeIfAbsent(dir, _ =>
      java.lang.Long.valueOf(table(s, dir, "documents").count()))
  def cachedDocCount(dir: String): Option[Long] =
    Option(docCountCache.get(dir)).map(_.longValue())
  private val docCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Asymmetric containment dedup (AllPairs/PPJoin-family prefix
    * filtering, oracle-checked): flags documents whose gram set is
    * >= [[ContainThreshold]] contained in another document's — the
    * quote/partial-inclusion tier that symmetric Jaccard structurally
    * misses when |B| >> |A| (a page quoting a whole small doc has
    * J ~ |A|/|B| ~ 0 but containment 1).
    *
    * The prefix theorem does the scaling: order the gram universe by
    * (df, gram) ascending; if C(A->B) >= t then B shares at least one
    * of A's floor(n_a*(1-t))+1 RAREST grams — so candidates are an
    * equi-join of tiny prefix sets against df-capped gram lists, never
    * all-pairs. Verification counts the exact intersection via two
    * doc-keyed joins, only on candidates. Every stage is a shuffle on
    * a key whose cardinality grows with the corpus (gram, then doc_id);
    * md5-quarter sampling cuts the gram volume 4x deterministically,
    * mirrored in SQL.
    */
  /** Candidate-pair ceiling under which the verify tier's doc-id sets
    * are BROADCAST into the semi-joins (ids are 8-byte longs, so the
    * cap is ~80 MB of driver/executor footprint worst case); a
    * near-duplicate-saturated corpus whose gated candidates exceed it
    * falls back to shuffle semi-joins — same rows, one more exchange,
    * no driver risk. The prefix/positional/signature tiers
    * thin candidates relative to the corpus but put no ABSOLUTE bound
    * on them, so the hard guard lives here, not in the tiers.
    */
  val ContainIdBroadcastMax = 10000000L

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.Dedup")

  /** Deserialized gram-profile bytes per COMPRESSED input byte of the
    * documents scan. Plan stats cannot see the gram explode's
    * expansion (Generate propagates its child's estimate), so the
    * footprint is estimated from the operator's own algebra, grounded
    * by the r19 measured point: the zipf ×100 corpus (70 MB parquet)
    * produced a ~125M-row ranked profile ≈ 10 GB of deserialized row
    * objects — 143×. Algebraically the same number: ~1 sampled
    * distinct gram per 4 text chars, ~80 B per deserialized (doc_id,
    * gram, df, n, rn) row object, ~4-7× snappy text compression.
    */
  private val ContainProfileExpansion = 144L

  /** Fraction of the free storage pool the deserialized profile may
    * claim before the auto tier switches to the serialized level —
    * the profile's four consumer passes need the rest for execution
    * memory, and a profile that MOSTLY fits still GC-churns.
    */
  private val ProfileMemoryHeadroom = 0.5

  /** Storage tier for the containment gram-profile checkpoint — an
    * ENGINE decision, the repo's standing pattern: estimate the
    * profile's deserialized footprint from the input scan's size estimate ×
    * [[ContainProfileExpansion]], read the cluster's remaining storage
    * memory from the executor status map, and buy the serialized tier
    * (MEMORY_AND_DISK_SER — the cold cliff halves, warm passes pay
    * +45% re-deserialization; the measured trade in SCALING.md r19)
    * only when the deserialized profile would crowd the pool. Both
    * tiers are result-invariant (spec-pinned); the estimate is CRUDE
    * but monotone in corpus size, and the decision only matters at
    * the extremes: a gate-SF profile (sf0.1: 584 KB × 144 ≈ 84 MB) is
    * far under any real pool, a ×100 one (10 GB) far over half of it.
    */
  private[graft] def containProfileLevel(s: SparkSession,
      input: DataFrame): StorageLevel = {
    val est = input.queryExecution.optimizedPlan.stats.sizeInBytes *
      ContainProfileExpansion
    val free = s.sparkContext.getExecutorMemoryStatus.values
      .map(_._2.toDouble).sum
    val ser = est > BigInt((free * ProfileMemoryHeadroom).toLong)
    log.info(s"containment profile tier: est=$est bytes " +
      s"deserialized vs free=${free.toLong} storage — " +
      (if (ser) "MEMORY_AND_DISK_SER" else "MEMORY_AND_DISK"))
    if (ser) StorageLevel.MEMORY_AND_DISK_SER
    else StorageLevel.MEMORY_AND_DISK
  }

  /** `profileLevel` pins the gram-profile checkpoint's storage tier;
    * None (the default) leaves it to [[containProfileLevel]].
    */
  def dedupContainment(s: SparkSession, dir: String,
                       threshold: Double = ContainThreshold,
                       maxDf: Int = 0,
                       posFilter: Boolean = true,
                       profileLevel: Option[StorageLevel] = None)
      : DataFrame = {
    val docs = table(s, dir, "documents")
    // 0 = corpus-scaled df cut (see containMaxDfFor); explicit pins
    val (g, cand0) = containmentCandidates(s, dir, threshold,
      if (maxDf > 0) maxDf else containMaxDfFor(docCount(s, dir)),
      posFilter = posFilter, profileLevel = profileLevel)
    // Materialize the gated candidate pairs once (bounded: the prefix
    // theorem + positional + signature tiers cap them far below the
    // corpus), then SEMI-JOIN the gram profile down to candidate docs
    // before the exact-intersection legs — without this, each verify
    // leg shuffles and sorts the FULL corpus-sized gram list on its
    // doc key to serve a candidate set that touches a fraction of the
    // docs (the ×100 measurement: two 60M-row sorts feeding 63k
    // pairs). NOTE the count() below means CONSTRUCTING this frame
    // executes the candidate tier — deliberate: the broadcast-vs-
    // shuffle dispatch needs the materialized candidate count, the
    // same build-time-job posture as windowAutoOn's profile step
    // (PlanSpec accounts for it).
    val cand = cand0.localCheckpoint(eager = false)
    val nCand = cand.count()
    val aIds = cand.select(col("a").as("doc_id")).distinct()
    val bIds = cand.select(col("b").as("doc_id")).distinct()
    // candidate ids usually sit far below the corpus, but nothing
    // BOUNDS them — count-guard the broadcast so a candidate blowup
    // degrades to a shuffle semi-join instead of a driver OOM (it is
    // the GRAM-list broadcast AQE picks at toy scale that the pinned
    // SMJ legs below exist to prevent; this guard closes the id-side
    // hole of the same rule)
    def semi(ids: DataFrame): DataFrame =
      if (nCand <= ContainIdBroadcastMax)
        g.join(broadcast(ids), Seq("doc_id"), "left_semi")
      else g.join(ids, Seq("doc_id"), "left_semi")
    val gA = semi(aIds)
    val gB = semi(bIds)
    val ver = cand
      .hint("merge")
      .join(gA.select(col("doc_id").as("a"), col("gram")), Seq("a"))
      .hint("merge")
      .join(gB.select(col("doc_id").as("b"), col("gram")), Seq("b", "gram"))
      .groupBy(col("a"), col("b"), col("na"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter").cast("double") >=
        col("na").cast("double") * threshold)
      .withColumn("cont",
        col("inter").cast("double") / col("na").cast("double"))
    val verdict = ver.groupBy(col("a").as("doc_id"))
      .agg(min(col("b")).as("contained_in"),
        round(max(col("cont")), 4).as("best_cont"))
    docs.select(col("doc_id")).join(verdict, Seq("doc_id"), "left")
      .select(col("doc_id"), col("contained_in"), col("best_cont"),
        col("contained_in").isNull.as("keep"))
  }

  /** Gram profile + candidate generation for [[dedupContainment]],
    * exposed for the spec that audits the mini-signature prefilter.
    * Returns (g, cand): the per-doc sampled gram set and the surviving
    * candidate pairs that proceed to the exact-intersection verify.
    */
  private[graft] def containmentCandidates(
      s: SparkSession, dir: String,
      threshold: Double = ContainThreshold, maxDf: Int = MaxContainDf,
      // (explicit default here: every caller of this internal surface
      // passes the resolved cut or wants the calibration constant)
      sigPrefilter: Boolean = true,
      posFilter: Boolean = true, profileLevel: Option[StorageLevel] = None)
      : (DataFrame, DataFrame) = {
    val q = ContainGramLen
    val docs = table(s, dir, "documents")
    // The gram profile feeds FOUR consumers (prefix side, build side,
    // both verify legs); plan-level exchange reuse only recovers two of
    // them (measured: 8 scans / 9 window passes without this), so the
    // profile is materialized once via localCheckpoint — the
    // dedup_clusters device. At 100 TB this is a persisted intermediate
    // dataset, exactly how a production PPJoin stages its inverted
    // lists.
    // ONE checkpoint for the whole profile: g and gd hold the same row
    // set (gd only adds df/n/rn), so materializing the sampled gram
    // list AND then the ranked list doubled the corpus-sized
    // checkpoint write — measured ~2/5 of the ×100 profile tier. The
    // ranked frame is checkpointed once and every consumer (prefix
    // side, build side, signature build, both verify legs) projects
    // from it; the extra 20 bytes/row the narrow consumers carry is
    // noise against a second 125M-row materialization.
    val gd0 = docs.select(col("doc_id"), lower(trim(col("text"))).as("s"))
      .filter(length(col("s")) >= q)
      // round-robin spread BEFORE the explode: locally the table is one
      // parquet split, and the per-gram md5 pass computed pre-exchange
      // would run in a single task (the dedup_ngram lesson; measured
      // 6.4s -> ~1s for the profile stage)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("s")) - (q - 1))).as("i"),
        col("s"))
      .select(col("doc_id"), expr(s"substring(s, i, $q)").as("gram"))
      // sample BEFORE distinct: the md5 filter runs map-side at scan
      // speed, so the dedup shuffle moves a quarter of the rows
      // (filter-then-distinct = distinct-then-filter on a per-row
      // deterministic predicate; the oracle keeps the other order)
      .filter(substring(md5(col("gram")), 1, 1)
        .isInCollection(Seq("0", "1", "2", "3")))
      // r21: the distinct is keyed by GRAM alone — HashPartitioning on a
      // subset of the aggregate keys satisfies the dedup's clustering
      // (same gram ⇒ same partition ⇒ same (doc_id, gram) colocated),
      // and the df window below needs exactly that gram clustering, so
      // ONE exchange serves both where (doc_id, gram)-keyed distinct
      // paid a second full shuffle of the sampled gram list before the
      // df pass. Skew note: a pathologically hot gram now concentrates
      // its (doc, gram) rows in one partition during the dedup — the
      // same rows the df window already concentrated one exchange
      // later, so the worst-case partition is unchanged, just earlier;
      // the maxDf cut is what actually bounds hot grams downstream.
      .repartition(s.sparkContext.defaultParallelism, col("gram"))
      .distinct()
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("gram"))))
      // n and rn share one Window operator (same partition key, same
      // (df, gram) sort; the count takes the whole-partition frame
      // explicitly) — the second doc_id window pass was pure overhead
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))
        .orderBy(col("df"), col("gram"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("rn", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("df"), col("gram"))))
    // Profile checkpoint storage tier: ENGINE-decided from estimated
    // deserialized footprint vs the free storage pool
    // ([[containProfileLevel]]) unless the caller pins `profileLevel`.
    // The measured trade (zipf ×100,
    // REPS=3, in-session drift control — SCALING.md r19):
    //  - MEMORY_AND_DISK: coldest rep 185 s, warm reps 51–58 s (warm
    //    band 1.13) — row objects live deserialized, a cold heap pays
    //    GC against ~125M long-lived rows once, then steady state is
    //    the fastest tier;
    //  - MEMORY_AND_DISK_SER: 96 / 87 / 74 s — the cold cliff HALVES
    //    (rows pack into byte-array blocks, near-zero GC scanning) and
    //    the full band tightens to 1.29, but every consumer pass
    //    re-deserializes 125M rows, +45% on the warm best.
    // The auto decision buys _SER exactly when the profile would
    // crowd the pool (the cliff regime) and keeps the fast
    // deserialized tier when it comfortably fits (gate SFs, warm
    // services with headroom).
    val gd = gd0.localCheckpoint(eager = true,
      storageLevel = profileLevel.getOrElse(containProfileLevel(s, docs)))
    val g = gd.select(col("doc_id"), col("gram"))
    val pref = gd.filter(
      col("rn") <= floor(col("n") * expr(ContainPrefixFrac)) + 1 &&
        col("df") <= maxDf)
    val build = gd.filter(col("df") <= maxDf)
      .select(col("doc_id").as("b"), col("gram"), col("n").as("nb"),
        col("rn").as("rnb"))
    // prefix x build is a gram-keyed join of two corpus-scaled lists:
    // pinned SMJ for the same reason as the verify legs.
    //
    // The join applies PPJoin's POSITIONAL filter on top of the length
    // filter: with every doc's grams ranked by the same global
    // (df, gram) order, a pair matched at ranks (rn_a, rn_b) can share
    // at most 1 + min(na - rn_a, nb - rn_b) grams — the match itself
    // plus whatever follows it on BOTH sides. Lossless: for a true pair
    // take the globally-smallest shared gram g*; it has the minimum df
    // of any shared gram (so it survives the df cap whenever any shared
    // gram does), everything before it in A's ranking is unshared (so
    // g* sits inside A's prefix by the same pigeonhole as the prefix
    // theorem), and at g*'s row every shared gram ranks >= (rn_a, rn_b)
    // on its side, making the bound exact — that row always passes.
    // Sub-threshold pairs matched only deep in both rankings die here
    // instead of in the exact verify (two doc-keyed joins each), which
    // is where the zipf x100 corpus spent its candidate volume.
    val cand0 = pref.select(col("doc_id").as("a"), col("n").as("na"),
        col("rn").as("rna"), col("gram"))
      .hint("merge")
      .join(build, "gram")
      .filter(col("a") =!= col("b") &&
        col("nb").cast("double") >= col("na").cast("double") * threshold &&
        (!lit(posFilter) ||
          (lit(1) + least(col("na") - col("rna"), col("nb") - col("rnb")))
            .cast("double") >= col("na").cast("double") * threshold))
      .select(col("a"), col("na"), col("b")).distinct()
    // Count-signature prefilter between candidate generation and the
    // exact verify (the dedup_ngram mini-signature idea composed in
    // front of the expensive stage, ROADMAP item 8) — but, unlike that
    // probabilistic 8-slot agreement test, LOSSLESS: bucket every doc's
    // sampled grams into [[ContainSigSlots]] slots by an md5-derived
    // hash; for any pair, sum_i min(cntA_i, cntB_i) is a true upper
    // bound on |A∩B| (each shared gram lands in the same slot on both
    // sides), so a candidate whose bound misses t*na cannot pass the
    // verify and dies here — against a small int vector instead of two
    // doc-sized gram joins. Slot count is the power knob: per-slot
    // UNIQUE-gram counts are ~Poisson(u/S), so the bound's slack is
    // E[sum_i min(uA_i, uB_i)] ~ u * f(u/S), which collapses as S
    // grows past u — at S = 128 a same-size pair with containment 0.5
    // bounds out near 0.75*na < t, while a TRUE pair (inter >= t*na)
    // passes by construction, always. Output provably unchanged
    // (PipelineSpec's brute-force theorem test runs the composed
    // pipeline), so the oracle SQL needs no mirror. The signature join
    // is doc-keyed (corpus-scaling key, never broadcast). A semi-join
    // of the histogram build down to cand0's doc ids was MEASURED
    // (r18) and rejected: the typed Aggregator already combines
    // map-side over the checkpointed profile (125M rows → 500k
    // partials before any shuffle at ×100), and the eager cand0
    // materialization the id set needs inserts a sync barrier that
    // cost 2.5× the whole query (37.96 → 94.37 s zipf ×100
    // adjacent-pair) — the filter saves a shuffle the aggregation
    // never paid.
    val cand =
      if (!sigPrefilter) cand0
      else {
        // hex chars 2-3 of md5(gram): char 1 is the sampling filter's
        // (only 4 values survive it) — chars 2-3 are uniform over 256
        def hexVal(c: Column): Column =
          ascii(c) - when(c <= "9", lit(48)).otherwise(lit(87))
        val slot = (hexVal(substring(md5(col("gram")), 2, 1)) * 16 +
          hexVal(substring(md5(col("gram")), 3, 1))) % ContainSigSlots
        // typed-Aggregator histogram: O(1) per gram row into a dense
        // int-array buffer, map-side combinable (see SlotHistogram's
        // Scaladoc for the measured cost of the pure-SQL alternatives)
        val csig = g.withColumn("slot", slot)
          .groupBy(col("doc_id"))
          .agg(graft.functions.SlotHistogram
            .slotHistogram(ContainSigSlots)(col("slot")).as("csig"))
        cand0
          .join(csig.select(col("doc_id").as("a"), col("csig").as("sig_a")),
            Seq("a"))
          .join(csig.select(col("doc_id").as("b"), col("csig").as("sig_b")),
            Seq("b"))
          .filter(aggregate(zip_with(col("sig_a"), col("sig_b"),
              (x, y) => least(x, y)), lit(0), _ + _).cast("double") >=
            col("na").cast("double") * threshold)
          .select(col("a"), col("na"), col("b"))
      }
    (g, cand)
  }

  /** Slot count of the containment count-signature. Sized so the
    * bound's slack (the slot-collision term ~ u*f(u/S) above) is small
    * against the unique-gram counts of typical documents; the vector
    * is S ints per doc, shuffled once on the doc key.
    */
  val ContainSigSlots = 128

  // -------------------------------------- cross-corpus segment dedup

  /** Segment width in tokens for boilerplate removal. */
  val SegTokens = 10

  /** A full segment shared by at least this many DISTINCT docs is
    * boilerplate (headers, navigation chrome, license blocks — the
    * CCNet/RefinedWeb paragraph-dedup threshold, here at its floor
    * because the synthetic corpus plants few copies).
    */
  val SegMinDf = 2

  /** Cross-corpus segment-level dedup (CCNet/Falcon line-dedup shape,
    * oracle-checked): documents are cut into aligned [[SegTokens]]-token
    * segments; a FULL segment appearing in >= [[SegMinDf]] distinct docs
    * is boilerplate and removed from every document; the output is the
    * per-doc verdict (segment counts + md5 of the cleaned text). This is
    * the dedup tier BETWEEN exact (whole-doc) and near-dup: it strips
    * repeated content out of otherwise-unique documents.
    *
    * Scale shape: one shuffle to count distinct docs per segment (the
    * segment key's cardinality grows with the corpus — no degenerate
    * key), one shuffle-join of segments against the boilerplate set
    * (both sides keyed on seg), one groupBy(doc_id) to reassemble.
    * Tail segments shorter than [[SegTokens]] never enter the
    * boilerplate set (a 1-token tail would match trivially), but are
    * kept in the reassembled text.
    */
  def dedupSegments(s: SparkSession, dir: String): DataFrame = {
    val segs = table(s, dir, "documents")
      .select(col("doc_id"), T.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0), col("n") - 1, lit(SegTokens))).as("st"),
        col("toks"), col("n"))
      .select(col("doc_id"),
        (col("st") / SegTokens).cast("long").as("seg_idx"),
        concat_ws(" ", slice(col("toks"), col("st") + 1, lit(SegTokens)))
          .as("seg"),
        (col("n") - col("st") >= SegTokens).as("full"))
    val boiler = segs.filter(col("full"))
      .groupBy(col("seg"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= SegMinDf)
      .select(col("seg"))
    segs.join(boiler.withColumn("is_boiler", lit(true)), Seq("seg"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_boiler"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("is_boiler").isNull,
            struct(col("seg_idx"), col("seg"))))),
          x => x.getField("seg")), " ")).as("clean_md5"))
  }

  def dedupEmbedding(s: SparkSession, dir: String,
                     threshold: Double = 0.4): DataFrame = {
    // The cap window plants Exchange(label) — which is exactly the pair
    // join's key — so with a merge hint (nothing corpus-sized may
    // broadcast) BOTH self-join sides reuse that one exchange and the
    // capped subtree is computed once (the dedupMinhash ReuseExchange
    // pattern). A round-robin respread of one side would break the reuse
    // and add an exchange for nothing: the join re-clusters on label
    // either way, so post-join parallelism is unchanged.
    val wl = Window.partitionBy(col("label")).orderBy(col("vec_id"))
    val e = table(s, dir, "embeddings")
      .withColumn("_lrn", row_number().over(wl))
      .filter(col("_lrn") <= MaxLabelBlock).drop("_lrn")
      .select(col("vec_id"), col("label"), col("embedding"))
    e.as("x").hint("merge").join(e.as("y"),
        col("x.label") === col("y.label") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.label").as("label"),
        col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        V.cosine(col("x.embedding"), col("y.embedding")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("label"), col("vec_a"), col("vec_b"),
        round(col("cos"), 4).as("cos_sim"))
  }

  /** Audit-slice size and recall floor for [[dedupRecall]]. The slice is
    * a FIXED number of documents, so the exact ground-truth computation
    * costs the same at any corpus size; statistical power scales with
    * the slice, not the corpus (run a larger slice as a one-off batch
    * audit when more is wanted).
    */
  val DedupRecallSlice = 500L
  val DedupRecallFloor = 0.9

  /** In-plan recall measurement of the MinHash dedup path
    * (oracle-checked) — the same honest-measurement device as
    * `ann_recall`: exact 3-shingle-set Jaccard ground truth over a
    * fixed [[DedupRecallSlice]]-doc audit slice (shared-shingle pair
    * join — never a cross product), then PAIR-level recall: a true
    * duplicate pair (in-slice Jaccard >= 0.8) counts as found when the
    * FULL minhash pipeline flagged at least one member as a duplicate —
    * the canonical representative of a cluster is deliberately kept, so
    * doc-level counting would tax the dedup for doing its job. Banding
    * at 8x8 gives a >= 0.8-Jaccard pair a >= 77% single-table collision
    * floor that rises to ~1 at the 0.95+ Jaccards real near-dups
    * exhibit, so the floor is a tight regression guard, not a formality.
    */
  def dedupRecall(s: SparkSession, dir: String): DataFrame = {
    val flagged = dedupMinhash(s, dir).filter(col("dup_of").isNotNull)
      .select(col("doc_id"))
    val sh = table(s, dir, "documents")
      .filter(col("doc_id") < DedupRecallSlice)
      .select(col("doc_id"),
        array_distinct(T.wordShingles(col("text"), 3)).as("shs"))
      .withColumn("n", size(col("shs")))
      .localCheckpoint() // consumed by the explode and both size joins
    val ex = sh.select(col("doc_id"), explode(col("shs")).as("g"))
    val pairs = ex.select(col("doc_id").as("da"), col("g"))
      .join(ex.select(col("doc_id").as("db"), col("g")), Seq("g"))
      .filter(col("da") < col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("inter"))
    val truthPairs = pairs
      .join(sh.select(col("doc_id").as("da"), col("n").as("na")), Seq("da"))
      .join(sh.select(col("doc_id").as("db"), col("n").as("nb")), Seq("db"))
      .filter(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double") >= 0.8)
    val fa = flagged.select(col("doc_id").as("da"), lit(1L).as("hit_a"))
    val fb = flagged.select(col("doc_id").as("db"), lit(1L).as("hit_b"))
    truthPairs.select(col("da"), col("db"))
      .join(fa, Seq("da"), "left").join(fb, Seq("db"), "left")
      .agg(count(lit(1)).as("n_truth_pairs"),
        coalesce(sum(when(col("hit_a").isNotNull ||
          col("hit_b").isNotNull, 1L).otherwise(0L)), lit(0L))
          .as("n_found_pairs"))
      .select(col("n_truth_pairs"), col("n_found_pairs"),
        when(col("n_truth_pairs") > 0,
          round(col("n_found_pairs").cast("double") /
            col("n_truth_pairs").cast("double"), 4)).as("recall"),
        coalesce(when(col("n_truth_pairs") > 0,
          col("n_found_pairs").cast("double") /
            col("n_truth_pairs").cast("double") >= DedupRecallFloor),
          lit(false)).as("pass"))
  }

  // ----------------------------------- content-defined chunking (CDC tier)

  /** Expected CDC chunk length in tokens: a token opens a new chunk when
    * its 60-bit md5 prefix is divisible by this, so boundaries fall on
    * CONTENT, not positions.
    */
  val CdcDivisor = 16

  /** Bound on the emitted duplicate-chunk report. */
  val CdcTopN = 100

  /** Content-defined chunking dedup (oracle-checked): the FastCDC/rsync
    * idea at token granularity — chunk boundaries are chosen by a hash
    * of the CONTENT (token t starts a new chunk iff md5_60(t) ≡ 0 mod
    * [[CdcDivisor]]), so inserting or deleting a sentence shifts only
    * the chunks it touches while every other chunk keeps its identity;
    * fixed-stride segmentation ([[dedupSegments]]) loses all alignment
    * after one edit. Emits the top duplicated chunks across the corpus
    * (distinct-doc and total occurrence counts) — the sub-document
    * boilerplate a fixed grid cannot see.
    *
    * Scale shape (r22): chunking is a PER-DOCUMENT function of the
    * token array, and a document is one row — so the chunk texts are
    * produced inside the row by the codegen'd cdc_chunk_texts
    * expression (NgramOps.cdcChunkTexts: boundary bit and chunk
    * grouping bit-identical to the former posexplode → per-doc
    * running-sum window → (doc, chunk) reassembly aggregate, which
    * paid TWO token-level corpus exchanges for per-row work). What
    * remains is the genuinely cross-document part: one explode of the
    * chunk texts, the per-chunk-hash count (key cardinality grows with
    * the corpus), and a TakeOrderedAndProject for the report. All
    * arithmetic is integer/string — both engines agree bit for bit.
    */
  def cdcChunks(s: SparkSession, dir: String): DataFrame = {
    // engine-guarded spread: the per-token md5 boundary pass runs
    // inside the scan stage — single task on an under-split table (the
    // dedup_ngram lesson, via Partitioning.spreadIfNarrow so a wide
    // production scan skips the exchange)
    val chunks = graft.engine.Partitioning.spreadIfNarrow(s,
        table(s, dir, "documents"), s"$dir/documents.parquet")
      .select(col("doc_id"), explode(T.cdcChunkTexts(
        T.tokens(col("text")), CdcDivisor)).as("chunk_text"))
    chunks
      .groupBy(md5(col("chunk_text")).as("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        max(length(col("chunk_text"))).cast("long").as("chunk_chars"))
      .filter(col("n_occ") > 1)
      .orderBy(col("n_occ").desc, col("chunk_hash"))
      .limit(CdcTopN)
  }

  // ------------------------------------------- exact-substring dedup

  /** Window width for exact-substring dedup: a duplicated run must
    * span at least this many tokens to be detected (and any run of at
    * least this length IS detected — see [[dedupSubstring]]).
    */
  val SubstrW = 10

  /** Token-window starts (doc_id, i, wh) whose `w`-token window occurs
    * ≥2 times in the corpus — the candidate positions for
    * exact-substring dedup. ONE pass over the tokens: every window
    * hashed (md5 over the space-joined slice — cross-engine exact),
    * then the [[capBuckets]] window-count device — `count over
    * (partition by wh)` needs one shuffle on the window hash and keeps
    * the expensive explode+md5 subtree SINGLE-CONSUMER (the
    * groupBy-count + join-back shape consumes it twice and recomputes
    * the whole upstream per consumer — the measured ~2× trap
    * documented on capBuckets). The window sorts only on the equal
    * partition key, so a viral boilerplate window costs an equal-key
    * run in one partition's external sort, never a pair join; the
    * planted exchange is reused by every same-key window downstream
    * (the keep-one election). Positions are 1-based longs both engines.
    */
  private def substrHitsWh(docs: DataFrame, w: Int): DataFrame = {
    val toks = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= w)
    val pos = toks
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("t")) - w + 1)).as("i0"),
        col("t"))
      .select(col("doc_id"), col("i0").cast("long").as("i"),
        md5(concat_ws(" ", slice(col("t"), col("i0"), lit(w)))).as("wh"))
    val byWh = Window.partitionBy(col("wh"))
    pos.withColumn("_n", count(lit(1)).over(byWh))
      .filter(col("_n") >= 2).drop("_n")
  }

  private def substrHits(docs: DataFrame, w: Int): DataFrame =
    substrHitsWh(docs, w).select(col("doc_id"), col("i"))

  /** Exact-substring dedup, span report (Lee et al. 2022,
    * arXiv:2107.06499 "Deduplicating Training Data Makes Language
    * Models Better", the ExactSubstr tier): per document, the MAXIMAL
    * token spans whose every [[SubstrW]]-token window occurs at least
    * twice in the corpus — the text a substring-level dedup pass would
    * cut. Doc-level dedup (minhash/simhash) misses these: two mostly
    * distinct documents sharing one boilerplate paragraph are not
    * near-dups, but the paragraph still duplicates training data.
    *
    * Exactness at fixed w instead of suffix arrays: any shared run of
    * ≥ w tokens contains a shared w-window at every start it covers,
    * so the merged island recovers the FULL run (windows overlapping
    * or adjacent — gap ≤ w — merge); runs shorter than w are below the
    * match threshold by design, exactly the role of ExactSubstr's
    * 50-token threshold. Islands merge per document with one lag
    * window + running-sum island id (doc_id-partitioned — no global
    * sort). Spans are 1-based inclusive token positions.
    *
    * Scale: candidate generation is [[substrHits]]'s single
    * hash-keyed shuffle; island assembly shuffles only hit positions
    * (≪ corpus) keyed by doc. The stride-reduced candidate generator
    * for corpora where full window hashing is too hot is
    * [[dedupWinnow]] (same pipeline, winnowed fingerprints).
    */
  def dedupSubstring(s: SparkSession, dir: String,
                     w: Int = SubstrW): DataFrame =
    spansFromHits(substrHits(
      table(s, dir, "documents").select(col("doc_id"), col("text")), w), w)

  /** Gaps-and-islands merge of hit window-starts into maximal spans:
    * one doc-partitioned lag window + running-sum island id (never a
    * global sort), then a per-island min/max aggregate.
    */
  private def spansFromHits(hits: DataFrame, w: Int): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val islands = hits
      .withColumn("brk",
        when(col("i") - lag(col("i"), 1).over(byDoc) <= w, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("island", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // no output orderBy: spans scale with the corpus's duplicated
    // volume, and a presentational global sort is a real range
    // exchange at 100 TB (the driver's comparator canon-sorts anyway)
    islands.groupBy(col("doc_id"), col("island"))
      .agg(min(col("i")).as("span_start"),
        (max(col("i")) + (w - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
  }

  /** Exact-substring dedup, canonical-election variant: Lee et al.'s
    * actual removal rule — every duplicated window keeps its FIRST
    * occurrence (smallest (doc_id, position), the deterministic
    * canonical) and marks only the others for removal, so exactly one
    * copy of each duplicated run survives the cut (ExactSubstr removes
    * all but one occurrence; [[dedupSubstring]] is the stricter
    * remove-everywhere report). Spans returned are the NON-canonical
    * occurrences merged per document.
    *
    * The election is a per-window-hash `min(struct(doc_id, i)) over
    * (partition by wh)` — an UNORDERED frame riding the exact exchange
    * [[substrHitsWh]] already planted (zero extra shuffles, the hits
    * subtree stays single-consumer), with no per-window row_number
    * sort: the oracle's literal row_number formulation is equivalent
    * ((doc_id, i) is unique within a hash) but would order-sort every
    * viral window's rows; the plan's min-over-window only groups the
    * equal partition key. The oracle is literal, the plan is the
    * skew-lean rewrite, the driver's hash match proves them equal.
    */
  def dedupSubstringKeepOne(s: SparkSession, dir: String,
                            w: Int = SubstrW): DataFrame = {
    val hits = substrHitsWh(
      table(s, dir, "documents").select(col("doc_id"), col("text")), w)
    val byWh = Window.partitionBy(col("wh"))
    val cut = hits
      .withColumn("c", min(struct(col("doc_id"), col("i"))).over(byWh))
      .filter(!(col("doc_id") === col("c.doc_id") &&
        col("i") === col("c.i")))
      .select(col("doc_id"), col("i"))
    spansFromHits(cut, w)
  }

  /** Exact-substring dedup, applied: every document rewritten with its
    * duplicated spans REMOVED (tokens covered by any ≥2-occurrence
    * [[SubstrW]]-window cut, the remainder re-joined in order). The
    * deterministic all-copies variant — removing every occurrence
    * rather than electing a canonical one keeps the op one-pass and
    * order-free (the canonical election is
    * [[dedupSubstringKeepOne]]). Documents with nothing duplicated pass
    * through whole; a document that was ALL boilerplate comes out
    * empty with its token count in `n_removed` — the downstream
    * length_filter gate is the intended consumer.
    *
    * Scale: the cut is applied as RUN-LEVEL instructions, never
    * per-position rows. [[spansFromHits]]'s maximal islands are exactly
    * the covered set (disjoint, hole-free, non-adjacent — the gap>w
    * break guarantees ≥1 uncovered token between islands), so the
    * intermediate is Σ span COUNTS (duplicated runs), not Σ span
    * lengths, and never the corpus token count: the earlier
    * formulation posexploded every token and re-collected them through
    * a corpus-sized shuffle of per-token structs (~15× the text bytes);
    * this one shuffles the span list (tiny) to the doc and rewrites
    * each text in place with one fold — per span, append the
    * uncovered slice before it; finish with the tail slice. The only
    * corpus-sized exchange left is the doc-keyed join planting the
    * span arrays. The oracle stays the literal covered-position
    * formulation, so the driver's hash match proves the span rewrite
    * equal.
    */
  def dedupSubstringClean(s: SparkSession, dir: String,
                          w: Int = SubstrW): DataFrame = {
    val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
    val sp = spansFromHits(substrHits(docs, w), w)
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(
        struct(col("span_start"), col("span_end")))).as("sp"))
    val emptySpans =
      "CAST(array() AS array<struct<span_start:bigint,span_end:bigint>>)"
    // fold state: next uncovered position + accumulated kept slices;
    // spans are sorted+disjoint, so every slice length is ≥ 0
    val cleanToks = raw"""aggregate(
        sp,
        named_struct('pos', CAST(1 AS BIGINT),
                     'acc', CAST(array() AS array<string>)),
        (st, x) -> named_struct(
          'pos', x.span_end + CAST(1 AS BIGINT),
          'acc', concat(st.acc,
            slice(t, CAST(st.pos AS INT),
              CAST(x.span_start - st.pos AS INT)))),
        st -> concat(st.acc,
          slice(t, CAST(st.pos AS INT),
            CAST(size(t) - st.pos + 1 AS INT))))"""
    docs.join(sp, Seq("doc_id"), "left")
      .select(col("doc_id"), split(col("text"), " ").as("t"),
        coalesce(col("sp"), expr(emptySpans)).as("sp"))
      .select(col("doc_id"), expr(cleanToks).as("ct"),
        size(col("t")).cast("long").as("n_tok"))
      // corpus-sized output: no presentational global sort (see
      // spansFromHits)
      .select(col("doc_id"),
        concat_ws(" ", col("ct")).as("clean_text"),
        size(col("ct")).cast("long").as("n_kept"),
        (col("n_tok") - size(col("ct")).cast("long")).as("n_removed"))
  }
}
