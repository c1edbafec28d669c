package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.DedupStream

/** Scale measurement for the streaming dedup ingest
  * ([[graft.streaming.DedupStream]]): seeds the persisted band index
  * from a corpus, then drives FIXED-SIZE micro-batches through
  * `processBatch`, timing each one. Run against corpora of different
  * sizes (sf0.1 / ×10 / ×100), the same-batch-size times answer the
  * scaling question directly: how does the cost of ingesting ONE batch
  * grow with the size of the standing index it dedups against?
  *
  * The honest expectation (recorded in SCALING.md, not assumed): the
  * per-batch plan scans the full band index once (no rescan of corpus
  * TEXT — bands only) and shuffles only batch-derived rows plus the
  * index's matching buckets, so batch cost should grow sub-linearly in
  * index size with a linear IO floor from the index scan. A lake
  * deployment prunes that scan with (band, bh)-partitioned index
  * layout; this harness measures the unpruned worst case.
  *
  * Usage: `runMain graft.StreamDedupBench <sfDir> [nBatches] [batchRows]`
  * Prints one JSON line and appends target/stream_dedup_scaling.json.
  */
object StreamDedupBench {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(5)
    val batchRows = args.lift(2).map(_.toInt).getOrElse(100)
    // "flat" disables the partitioned seed layout: the A/B control
    // isolating the bucket-pruned read's effect from box drift
    val partitioned = !args.lift(3).contains("flat")
    // "compact" runs the maintenance pass after the batches and then
    // nBatches MORE — timing the fold itself and the post-compaction
    // per-batch cost (it should match the fresh-seed steady state)
    val withCompact = args.contains("compact")
    val spark =
      graft.engine.GraftSession.getOrCreate("graft-stream-dedup-bench")
    graft.engine.Partitioning.autoTune(spark, dir)

    val root = java.nio.file.Files
      .createTempDirectory("sdb").resolve("store").toString
    val docs = graft.sources.Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(
      col("doc_id") % Dedup.IndexDeltaMod =!= Dedup.IndexDeltaRem)
    val delta = docs.filter(
      col("doc_id") % Dedup.IndexDeltaMod === Dedup.IndexDeltaRem)

    val t0 = System.nanoTime()
    DedupStream.seed(spark, corpus, root, partitioned)
    val seedS = (System.nanoTime() - t0) / 1e9
    val indexDocs = corpus.count()
    // the seed generation is pb-partitioned (bucket-pruned probes); a
    // mixed glob over partitioned+flat generations won't infer, so
    // count the seed dir directly — it's the only generation yet
    val bandRows = spark.read.parquet(s"$root/bands/b=seed").count()

    // fixed-size batches: the LOWEST wanted delta ids in id order (the
    // ingest contract), one bounded driver collect
    val totalBatches = if (withCompact) 2 * nBatches else nBatches
    val ids = delta.select(col("doc_id")).orderBy(col("doc_id"))
      .limit(totalBatches * batchRows).collect().map(_.getLong(0))
    require(ids.length == totalBatches * batchRows,
      s"delta too small: ${ids.length} < ${totalBatches * batchRows}")
    def runBatch(k: Int): Double = {
      val lo = ids(k * batchRows)
      val hi = ids((k + 1) * batchRows - 1)
      val batch = delta.filter(col("doc_id").between(lo, hi))
      val b0 = System.nanoTime()
      // auto-compaction off: the ladder times the raw per-batch cost at
      // a FIXED store shape per rung; the compact pass is timed
      // separately (the "compact" arg), not folded into a batch
      DedupStream.processBatch(batch, root, k.toLong,
        autoCompactFraction = 0)
      (System.nanoTime() - b0) / 1e9
    }
    val times = (0 until nBatches).map(runBatch)
    val (compactS, times2) =
      if (withCompact) {
        val c0 = System.nanoTime()
        DedupStream.compact(spark, root)
        ((System.nanoTime() - c0) / 1e9,
          (nBatches until 2 * nBatches).map(runBatch))
      } else (0.0, Seq.empty[Double])
    val flagged = spark.read.parquet(s"$root/verdicts/*")
      .filter(!col("keep")).count()
    val compactJson =
      if (withCompact)
        s""""compact_s":${Bench.fmt(compactS)},""" +
          s""""batch_s_post":[${times2.map(Bench.fmt).mkString(",")}],"""
      else ""
    val line = s"""{"stream_dedup":{"dir":"$dir","index_docs":$indexDocs,""" +
      s""""band_rows":$bandRows,"seed_s":${Bench.fmt(seedS)},""" +
      s""""batch_rows":$batchRows,"layout":""" +
      s""""${if (partitioned) "partitioned" else "flat"}",""" +
      s""""batch_s":[${times.map(Bench.fmt).mkString(",")}],""" +
      compactJson +
      s""""flagged":$flagged}}"""
    // append-mode write (no read-modify-rewrite of the accumulated file);
    // only non-fatal failures are swallowed — an OOM/VM error must not be
    // masked as "results file skipped"
    try {
      import java.nio.file.{Files, Paths, StandardOpenOption => O}
      val p = Paths.get("target/stream_dedup_scaling.json")
      Files.createDirectories(p.getParent)
      Files.write(p, (line + "\n").getBytes("UTF-8"),
        O.CREATE, O.APPEND)
    } catch { case scala.util.control.NonFatal(_) => () }
    println(line)
    spark.stop()
  }
}
