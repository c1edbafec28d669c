package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.SparkFiles
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Ann
import graft.sources.Tables.table

/** Streaming ANN INGEST: the vector-arrival shape of
  * [[graft.operators.Ann.annIncremental]] run as a Structured Streaming
  * fold over arriving embedding micro-batches — the production "find my
  * neighbors in the standing index, then land in the lake" pipeline.
  *
  * Each micro-batch is probe-assigned through the STANDING quantizer
  * (no per-batch refit — the same no-refit contract as the batch
  * operator), searched against the PERSISTED cell-partitioned IVF
  * artifact, and appended to the store. Probe construction and the
  * rank tier are single-sourced with the batch operator
  * ([[graft.operators.Ann.incrementalProbes]] /
  * [[graft.operators.Ann.incrementalRank]]) — the stream runs the
  * IDENTICAL arithmetic, which is what makes the fold's output
  * provably equal to the one-shot batch search (the ANN cases in
  * StreamingSpec, and the `ann_stream_fold` registry query whose
  * DuckDB oracle is `ann_incremental`'s VERBATIM).
  *
  * Batch-equality contract — simpler than the dedup fold's: every
  * query vector searches the STANDING index only, and queries are
  * mutually independent, so the fold equals the batch operator under
  * ANY batching and ANY arrival order (no id-monotonicity clause).
  * Arriving vectors are appended to the store as per-batch generations
  * (`cells/b=<id>` — the lake growth a production ingest lands), but
  * the search tier reads the newest SEED generation only: that IS the
  * batch operator's semantics ("neighbors in the standing corpus").
  * Two compactions with different jobs: [[compactFlat]] (COST —
  * auto-triggered by the [[DedupStream]] byte-fraction device)
  * consolidates the flat generations into one `b=fold<n>` dir without
  * touching the serving scope, so unattended ingest never accumulates
  * an unbounded dir tail; [[compact]] (SEMANTIC — operator-invoked)
  * rebuilds the seed from everything, widening the serving scope to
  * the arrivals, which is a result-changing decision no cost
  * threshold should make.
  *
  * Exactly-once: identical to [[DedupStream]] — a batch commits by
  * writing `results/` and `cells/` dirs and THEN creating the atomic
  * `commits/<id>` marker; redelivery of a committed id is a no-op;
  * replay after a mid-batch crash removes the partial dirs and reruns
  * the batch whole. Partials belong only to the batch being replayed
  * (batches commit in order through foreachBatch).
  *
  * Store layout under `root/`:
  * {{{
  *   cells/b=seed/cell=N/   the standing IVF artifact (copied from
  *                          ivfIndexPath — cell directories, so the
  *                          per-batch probe join dynamic-partition-
  *                          prunes the scan to probed cells)
  *   cells/b=0,b=1,...      per-batch arrivals (vec_id, embedding,
  *                          cell) — flat, batch-sized
  *   results/b=0,b=1,...    per-batch top-K results
  *   commits/0,1,...        empty marker files, created last
  * }}}
  *
  * Scale shape per batch: probe selection is the native codegen'd
  * [[graft.functions.VecCellTopN]] walk (linear in batch size, ~√k per
  * query above the two-level threshold, no exchange); the index scan
  * reads ≤ (batch × nProbe) cell directories of the corpus-sized
  * artifact via dynamic partition pruning; the rank shuffles only
  * probed-cell members × queries. Nothing per-batch scans the corpus.
  */
object AnnStream {

  /** Seed the store with the standing corpus's cell-partitioned IVF
    * artifact. `partitioned = false` is the measurement A/B control
    * (flat single-directory seed — probes scan the whole artifact, so
    * a partitioned-vs-flat ladder pair isolates what DPP file pruning
    * buys on the same box, same day).
    */
  def seed(s: SparkSession, dir: String, root: String,
           partitioned: Boolean = true): Unit = {
    val artifact = Ann.ivfIndexPath(s, dir)
    if (partitioned) {
      copyRecursively(Paths.get(artifact), Paths.get(root, "cells", "b=seed"))
      // artifacts built before the manifest device lack one — add it
      // so the per-batch reads stay listing-free either way
      if (graft.operators.Dedup.indexFilesManifest(
          s"$root/cells/b=seed").isEmpty)
        graft.operators.Dedup.writeFilesManifest(s"$root/cells/b=seed")
    } else
      s.read.parquet(artifact)
        .select(col("vec_id"), col("embedding"), col("cell"))
        .write.mode("overwrite").parquet(s"$root/cells/b=seed")
    Files.createDirectories(Paths.get(root, "commits"))
  }

  /** Process one micro-batch of (vec_id, embedding) query vectors:
    * top-K neighbors of each against the standing index, then append
    * the batch's assigned vectors to the store. Public and
    * batch-id-keyed so foreachBatch wires it directly and specs can
    * drive replay scenarios without a stream. Runs at the session's
    * own shuffle width and writes none of its confs.
    */
  def processBatch(batch: DataFrame, root: String, batchId: Long,
                   centroids: Array[Array[Double]],
                   nProbe: Int = Ann.IvfProbe,
                   autoCompactFraction: Double = AutoCompactFraction)
      : Unit = {
    val s = batch.sparkSession
    val marker = Paths.get(root, "commits", batchId.toString)
    if (Files.exists(marker)) return // committed: redelivery is a no-op
    val gen = Seq("results", "cells")
      .map(k => Paths.get(root, k, s"b=$batchId"))
    gen.foreach(deleteRecursively) // crash residue from THIS id only
    // a micro-batch source is not re-readable and the batch enters the
    // plan twice (probe side, lake append) — pin it once
    val vecs = batch.select(col("vec_id"), col("embedding")).persist()
    // probes are materialized (batch × nProbe rows — tiny) so the
    // index read can assemble the EXPLICIT matching cell files from
    // the artifact's manifest: zero directory listings per batch at
    // any index size (whole-tree partition discovery over the ×100
    // artifact's ~1.5k dirs measured ~2× the flat scan per batch)
    val probes = Ann.incrementalProbes(vecs, centroids, nProbe).persist()
    try {
      val cells = probes.select(col("cell"))
        .collect().map(_.getInt(0)).distinct.sorted.toSeq
      // seed-scoped search (the batch-operator contract — see the
      // class doc), pruned to the probed cells; the NEWEST seed
      // generation is the serving index (compact() installs
      // b=seed<n> atomically by directory move)
      val index = Ann.readCellsPruned(s, newestSeed(root), cells)
      Ann.incrementalRank(probes, index)
        .write.parquet(s"$root/results/b=$batchId")
      vecs.select(col("vec_id"), col("embedding"),
          Ann.cellAssignExact(col("embedding"), centroids).as("cell"))
        .write.parquet(s"$root/cells/b=$batchId")
      Files.createDirectories(marker.getParent)
      Files.createFile(marker) // the commit point — atomic, created last
    } finally { probes.unpersist(); vecs.unpersist() }
    if (autoCompactFraction > 0 &&
        rawBytes(root) > autoCompactFraction * servingBytes(root).max(1L))
      compactFlat(s, root)
  }

  /** Fraction of the serving bytes (newest seed + consolidated fold
    * generations) the RAW per-batch generations may accumulate before
    * [[processBatch]] triggers [[compactFlat]] on its own (after the
    * batch commits — never concurrently). The
    * [[DedupStream.AutoCompactFraction]] device: 0.5 amortizes to
    * O(1) per byte because the consolidated base grows geometrically.
    * Pass `autoCompactFraction = 0` to disable (the measurement
    * harnesses do, to keep ladder rungs comparable).
    */
  val AutoCompactFraction = 0.5

  /** On-disk bytes of the raw per-batch generations (`b=<id>`) under
    * cells/ — the accumulation [[compactFlat]] resets. Walk cost
    * tracks the raw data itself (batch-sized dirs), never the
    * standing index.
    */
  private def rawBytes(root: String): Long =
    generationDirs(root, "cells")
      .filterNot(d => d.getName.startsWith("b=seed") ||
        d.getName.startsWith("b=fold"))
      .map(StoreProtocol.dirBytes).sum

  /** On-disk bytes of the seed + fold generations, cached per
    * (name, mtime) set — the [[DedupStream]] seedBytes device: the
    * serving artifact is immutable between compactions, so re-walking
    * its thousands of cell files on every batch commit would put an
    * index-sized listing on the per-batch hot path. The mtime in the
    * key invalidates on in-place re-seeds.
    */
  private def servingBytes(root: String): Long = {
    val dirs = generationDirs(root, "cells")
      .filter(d => d.getName.startsWith("b=seed") ||
        d.getName.startsWith("b=fold"))
    val key = dirs.map(d => s"${d.getAbsolutePath}@${d.lastModified}")
    val cached = servingBytesCache.get(root)
    if (cached != null && cached._1 == key) cached._2
    else {
      val bytes = dirs.map(StoreProtocol.dirBytes).sum
      servingBytesCache.put(root, (key, bytes))
      bytes
    }
  }
  private val servingBytesCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[String], Long)]()

  /** Consolidate the flat arrival generations — raw `b=<id>` batch
    * dirs plus any previous `b=fold<n>` — into ONE fresh `b=fold<m>`
    * generation: the COST compaction of this store, auto-triggered by
    * [[processBatch]]'s byte-fraction threshold. Deliberately
    * SCOPE-PRESERVING, unlike [[compact]]: searches read the newest
    * SEED only, so consolidating arrivals changes NO search result —
    * post-consolidation batches stay result-identical (StreamingSpec
    * pins it), which is what lets the trigger fire unattended
    * mid-ingest without breaking the fold==batch oracle proof (the
    * dedup store's trigger could port directly because its searches
    * read every generation; here the same trigger drives the
    * scope-preserving fold instead, because a scope-WIDENING rebuild
    * mid-stream would change later batches' neighbor sets). What it
    * buys is file count and rebuild cost: raw generations grow one
    * dir per batch without bound — unread by searches but paid by
    * every [[compact]] rebuild, store listing, and DR copy — and
    * consolidation resets the tail, amortized O(1) per byte by the
    * geometric threshold. Crash protocol = the shared
    * [[StoreProtocol]] marker scheme; fold ids share the
    * compaction-id space (a moved-but-unmarked fold generation gets a
    * fresh id and re-folds as duplicates, which the vec_id dedup
    * makes exact, same as [[compact]]'s torn-state argument).
    */
  def compactFlat(s: SparkSession, root: String): Unit = {
    StoreProtocol.finishPendingCleanup(root)
    val flat = generationDirs(root, "cells")
      .filterNot(_.getName.startsWith("b=seed"))
    if (flat.size <= 1) return
    val n = StoreProtocol.nextCompactId(root,
      generationDirs(root, "cells").map(_.getName))
    val tmp = Paths.get(root, s"compact-tmp-$n")
    flat.map(g => s.read.parquet(g.getAbsolutePath)
        .select(col("vec_id"), col("embedding"), col("cell")))
      .reduce(_ unionByName _)
      .dropDuplicates("vec_id") // torn-state re-fold exactness
      .write.mode("overwrite").parquet(tmp.toString)
    Files.move(tmp, Paths.get(root, "cells", s"b=fold$n"))
    StoreProtocol.supersede(root, n, flat.map(_.getAbsolutePath))
  }

  /** Compact the store: fold the serving seed and every flat batch
    * generation into ONE fresh cell-partitioned seed (the
    * [[graft.operators.Ann.ivfIndexPath]] layout + manifest),
    * installed atomically by directory move. Run between batches
    * (never concurrently with [[processBatch]]).
    *
    * Semantics — deliberately DIFFERENT from [[DedupStream.compact]]:
    * folding arrivals into the seed EXPANDS the search scope.
    * Post-compaction batches rank neighbors among corpus + folded
    * arrivals — exactly what a production index rebuild is for
    * (StreamingSpec pins the expanded results against
    * [[graft.operators.Ann.incrementalRank]] over the union index).
    * No auto-trigger HERE: widening the serving scope changes later
    * batches' neighbor sets, so WHEN to rebuild is an operator
    * decision. The cost dimension (unbounded flat-dir tail) is owned
    * by [[compactFlat]]'s auto-trigger instead, which preserves
    * scope; this rebuild then folds seed + fold + raw alike.
    *
    * Crash safety is [[DedupStream.compact]]'s protocol: the new
    * generation is written OUTSIDE the read tree, moves in before any
    * delete, a marker lists the superseded dirs, cleanup deletes them
    * and retires the marker; the next id clears both marker ids and
    * live seed suffixes (a moved-but-unmarked generation gets a fresh
    * id). Readers are immune to the torn window because they pin the
    * NEWEST seed generation ([[newestSeed]]) — the switch is atomic at
    * the move — and the fold itself drops duplicate vec_ids, so a
    * re-fold over a torn state (new seed + still-present old
    * generations) is exact, not duplicate-inflating (ANN ranks, unlike
    * the dedup verdict aggregates, are NOT duplicate-tolerant: a
    * doubled index row would double its candidate and shift every rank
    * below it).
    */
  def compact(s: SparkSession, root: String): Unit = {
    StoreProtocol.finishPendingCleanup(root)
    val gens = generationDirs(root, "cells")
    if (gens.size <= 1) return
    val n = StoreProtocol.nextCompactId(root, gens.map(_.getName))
    val tmp = Paths.get(root, s"compact-tmp-$n")
    val all = gens.map(g => s.read.parquet(g.getAbsolutePath)
        .select(col("vec_id"), col("embedding"), col("cell")))
      .reduce(_ unionByName _)
      .dropDuplicates("vec_id") // torn-state re-fold exactness
    all.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(tmp.toString)
    // manifest paths are relative, so it survives the move
    graft.operators.Dedup.writeFilesManifest(tmp.toString)
    Files.move(tmp, Paths.get(root, "cells", s"b=seed$n"))
    StoreProtocol.supersede(root, n, gens.map(_.getAbsolutePath))
  }

  private def generationDirs(root: String, kind: String)
      : Seq[java.io.File] = StoreProtocol.generationDirs(root, kind)

  /** The serving index: the newest seed generation (bare `b=seed` is
    * generation -1; `b=seed<n>` from [[compact]] supersede it in id
    * order).
    */
  private def newestSeed(root: String): String =
    generationDirs(root, "cells").map(_.getName)
      .filter(_.startsWith("b=seed"))
      .sortBy(d => scala.util.Try(
        d.stripPrefix("b=seed").toInt).getOrElse(-1))
      .lastOption
      .map(d => s"$root/cells/$d")
      .getOrElse(s"$root/cells/b=seed")

  /** Start the ingest fold over a streaming (vec_id, embedding)
    * source.
    */
  def start(vecStream: DataFrame, root: String, checkpoint: String,
            centroids: Array[Array[Double]],
            nProbe: Int = Ann.IvfProbe,
            autoCompactFraction: Double = AutoCompactFraction)
      : StreamingQuery =
    vecStream.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        processBatch(b, root, id, centroids, nProbe, autoCompactFraction)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Deterministic bounded harness: split `dir`'s delta carve (the
    * SAME `vec_id % IncDeltaMod == IncDeltaRem` slice the batch
    * operator searches) into `chunks` id-range files, stream them one
    * file per micro-batch through the fold, and return the union of
    * per-batch results. This is the registry query `ann_stream_fold`;
    * its oracle is `ann_incremental`'s VERBATIM — the driver's hash
    * match is a machine-checked proof that the streaming fold equals
    * the one-shot batch search.
    */
  def foldBoundedDelta(s: SparkSession, dir: String, chunks: Int = 3,
                       nProbe: Int = Ann.IvfProbe): DataFrame = {
    // idempotent-memoized per corpus dir and context (the
    // DedupStream.foldCache device): a repeat invocation is the
    // redelivery no-op path — one parquet read of the committed results
    val root = foldCache.computeIfAbsent(
      (SparkFiles.getRootDirectory(), dir, chunks, nProbe), _ =>
        runFold(s, dir, chunks, nProbe))
    s.read.parquet(s"$root/results/*")
      .select(col("q_id"), col("rank"), col("cand_id"), col("cos_r"),
        col("cell"))
  }
  private val foldCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Int, Int), String]()

  private def runFold(s: SparkSession, dir: String, chunks: Int,
                      nProbe: Int): String = {
    val base = Files.createTempDirectory(
      Paths.get(SparkFiles.getRootDirectory()), "graft-ann-stream")
    val root = base.resolve("store").toString
    val in = base.resolve("in")
    val ckpt = base.resolve("ckpt").toString
    Files.createDirectories(in)
    // the standing quantizer — the SAME per-dir fit cache entry the
    // batch operator and the oracle generator read, so all three agree
    val centroids = Ann.fitCentroids(s, dir,
      Ann.ivfCellsFor(Ann.corpusCount(s, dir)))
    seed(s, dir, root)
    val delta = table(s, dir, "embeddings")
      .filter(col("vec_id") % Ann.IncDeltaMod === Ann.IncDeltaRem)
      .select(col("vec_id"), col("embedding"))
    // id-range chunks with strictly increasing mtimes so the file
    // source's mtime order is deterministic (queries are independent,
    // so order never affects results — this just pins the batch split)
    val bounds = delta.stat.approxQuantile(
      "vec_id", (1 until chunks).map(_.toDouble / chunks).toArray, 0.0)
      .map(_.toLong)
    (0 until chunks).foreach { k =>
      val lo = if (k == 0) Long.MinValue else bounds(k - 1)
      val hi = if (k == chunks - 1) Long.MaxValue else bounds(k)
      val part = delta.filter(col("vec_id") > lo && col("vec_id") <= hi)
      val tmp = base.resolve(s"tmp$k")
      part.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val ls = Files.list(tmp)
      val src =
        try ls.filter(_.getFileName.toString.startsWith("part-"))
          .findFirst.get
        finally ls.close()
      val dst = in.resolve(f"chunk-$k%05d.parquet")
      Files.move(src, dst)
      dst.toFile.setLastModified(1700000000000L + k * 60000L)
    }
    val stream = s.readStream.schema(delta.schema)
      .option("maxFilesPerTrigger", 1).parquet(in.toString)
    start(stream, root, ckpt, centroids, nProbe).awaitTermination()
    root
  }

  private def copyRecursively(src: Path, dst: Path): Unit =
    StoreProtocol.copyRecursively(src, dst)

  private def deleteRecursively(p: Path): Unit =
    StoreProtocol.deleteRecursively(p)
}
