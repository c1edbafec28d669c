package graft

import org.apache.spark.sql.functions._

import graft.operators.Ann
import graft.streaming.AnnStream

/** Scale measurement for the streaming ANN ingest
  * ([[graft.streaming.AnnStream]]): seeds the store from the
  * cell-partitioned IVF artifact, then drives FIXED-SIZE vector
  * micro-batches through `processBatch`, timing each one. Run against
  * corpora of different sizes (sf0.1 / ×10 / ×100), the same-batch-size
  * times answer the scaling question directly: how does the cost of
  * searching+landing ONE batch grow with the size of the standing index?
  *
  * The design expectation (recorded in SCALING.md once measured, not
  * assumed): the probe walk is batch-sized, and the index scan is
  * dynamic-partition-pruned to ≤ (batch × nProbe) cell directories, so
  * per-batch cost should be FLAT in corpus size once cell count
  * saturates — the same shape the dedup ingest ladder measured. The
  * `flat` arg is the A/B control (unpartitioned seed: every probe scans
  * the whole artifact — the linear floor the partitioning removes).
  *
  * Usage: `runMain graft.StreamAnnBench <sfDir> [nBatches] [batchRows] [flat]`
  * Prints one JSON line and appends target/stream_ann_scaling.json.
  */
object StreamAnnBench {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nBatches = args.lift(1).map(_.toInt).getOrElse(5)
    val batchRows = args.lift(2).map(_.toInt).getOrElse(50)
    val partitioned = !args.lift(3).contains("flat")
    // "compact" runs AnnStream.compact after the batches and then
    // nBatches MORE — timing the rebuild itself and the post-rebuild
    // per-batch cost against the widened seed
    val withCompact = args.contains("compact")
    // compact always installs a PARTITIONED seed, so combining it with
    // the flat control would record post-rebuild times under
    // layout:"flat" — a silently corrupted A/B ladder line
    require(partitioned || !withCompact,
      "'flat compact' would mislabel the post-rebuild batches: " +
        "AnnStream.compact always writes a cell-partitioned seed")
    val spark = graft.engine.GraftSession.getOrCreate("graft-stream-ann-bench")
    graft.engine.Partitioning.autoTune(spark, dir)

    val root = java.nio.file.Files
      .createTempDirectory("sab").resolve("store").toString
    val centroids = Ann.fitCentroids(spark, dir,
      Ann.ivfCellsFor(Ann.corpusCount(spark, dir)))
    val t0 = System.nanoTime()
    AnnStream.seed(spark, dir, root, partitioned)
    val seedS = (System.nanoTime() - t0) / 1e9
    val indexRows = spark.read.parquet(s"$root/cells/b=seed").count()

    val delta = graft.sources.Tables.table(spark, dir, "embeddings")
      .filter(col("vec_id") % Ann.IncDeltaMod === Ann.IncDeltaRem)
      .select(col("vec_id"), col("embedding"))
    // fixed-size batches: the LOWEST delta ids in id order, one bounded
    // driver collect of ids only
    val totalBatches = if (withCompact) 2 * nBatches else nBatches
    val ids = delta.select(col("vec_id")).orderBy(col("vec_id"))
      .limit(totalBatches * batchRows).collect().map(_.getLong(0))
    require(ids.length == totalBatches * batchRows,
      s"delta too small: ${ids.length} < ${totalBatches * batchRows}")
    def runBatch(k: Int): Double = {
      val lo = ids(k * batchRows)
      val hi = ids((k + 1) * batchRows - 1)
      val batch = delta.filter(col("vec_id").between(lo, hi))
      val b0 = System.nanoTime()
      AnnStream.processBatch(batch, root, k.toLong, centroids)
      (System.nanoTime() - b0) / 1e9
    }
    val times = (0 until nBatches).map(runBatch)
    val (compactS, times2) =
      if (withCompact) {
        val c0 = System.nanoTime()
        AnnStream.compact(spark, root)
        ((System.nanoTime() - c0) / 1e9,
          (nBatches until 2 * nBatches).map(runBatch))
      } else (0.0, Seq.empty[Double])
    val resultRows = spark.read.parquet(s"$root/results/*").count()
    val compactJson =
      if (withCompact)
        s""""compact_s":${Bench.fmt(compactS)},""" +
          s""""batch_s_post":[${times2.map(Bench.fmt).mkString(",")}],"""
      else ""
    val line = s"""{"stream_ann":{"dir":"$dir","index_rows":$indexRows,""" +
      s""""cells":${centroids.length},"seed_s":${Bench.fmt(seedS)},""" +
      s""""batch_rows":$batchRows,"layout":""" +
      s""""${if (partitioned) "partitioned" else "flat"}",""" +
      s""""batch_s":[${times.map(Bench.fmt).mkString(",")}],""" +
      compactJson +
      s""""result_rows":$resultRows}}"""
    try {
      import java.nio.file.{Files, Paths, StandardOpenOption => O}
      val p = Paths.get("target/stream_ann_scaling.json")
      Files.createDirectories(p.getParent)
      Files.write(p, (line + "\n").getBytes("UTF-8"),
        O.CREATE, O.APPEND)
    } catch { case scala.util.control.NonFatal(_) => () }
    println(line)
    spark.stop()
  }
}
