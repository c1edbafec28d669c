package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** Streaming scale harness (SCALING.md): drives a ×N events corpus
  * through the STREAMING path — file-source trickle → watermarked
  * window agg / stream dedup / flatMapGroupsWithState sessionizer and
  * anomaly scorer — with RocksDB state, measuring throughput and the
  * per-batch state-store footprint, to prove state stays bounded by the
  * watermark horizon while history replays at corpus scale. The batch
  * twins of these queries are ×100-measured; this is the streaming
  * side's own curve.
  *
  * Staging: the corpus events are sliced into `slices` files by EVENT
  * TIME (repartitionByRange on ts — partition i owns time-range i) and
  * the files' modified-times are rewritten in slice order, so the file
  * source replays history in event-time order and the watermark
  * advances monotonically batch to batch. A randomly-ordered file set
  * would advance the watermark to max-1h on the first batch and
  * late-drop most of the corpus — measuring drop, not streaming.
  *
  * Output: one JSON line per query —
  * `{"query":…,"events":N,"wall_s":…,"events_per_s":…,"batches":…,
  * "state_rows_max":…,"state_mb_max":…,"out_rows":…}` — plus a
  * combined `{"stream_scale":…}` line, and target/stream_scaling.json.
  */
object StreamScaleBench {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_scale100")
    val slices = args.lift(1).map(_.toInt).getOrElse(40)
    // the production state backend: state lives off-heap in RocksDB
    // with changelog checkpointing, not in executor heap maps
    val spark = graft.engine.GraftSession.getOrCreate(
      "graft-stream-scale-bench", Map(
        "spark.sql.streaming.stateStore.providerClass" ->
          ("org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider"),
        ("spark.sql.streaming.stateStore.rocksdb." +
          "changelogCheckpointing.enabled") -> "true"))

    val stage = stageTimeOrdered(spark, dir, slices)
    val total = spark.read.parquet(stage).count()
    println(s"[stream-scale] staged $total events in $slices " +
      s"time-ordered slices at $stage")

    // re-read per query (each needs its own source offsets);
    // readEventStream's maxFilesPerTrigger=1 gives one time slice per
    // micro-batch — the steady trickle
    def ev(): DataFrame = EventStreams.readEventStream(spark, stage)
    val cases: Seq[(String, () => (DataFrame, String))] = Seq(
      ("windowed_counts",
        () => (EventStreams.windowedCounts(ev()), "append")),
      ("dedup_bounded",
        () => (EventStreams.dedupStreamBounded(ev()), "append")),
      ("sessionize",
        () => (EventStreams.sessionizeStream(ev()).toDF(), "append")),
      ("anomaly",
        () => (EventStreams.anomalyStream(ev()).toDF(), "append")))

    val results = cases.map { case (name, mk) =>
      val (df, mode) = mk()
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"ssb_$name").toString
      val t0 = System.nanoTime()
      val q = df.writeStream.outputMode(mode)
        .option("checkpointLocation", ckpt)
        .format("noop").start()
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress.toSeq
      q.stop()
      val batches = progs.count(_.numInputRows > 0)
      val inRows = progs.map(_.numInputRows).sum
      val outRows = progs.map(_.sink.numOutputRows).filter(_ > 0).sum
      val stateRowsMax = progs.flatMap(_.stateOperators.toSeq)
        .map(_.numRowsTotal).foldLeft(0L)(math.max)
      val stateMbMax = progs.flatMap(_.stateOperators.toSeq)
        .map(_.memoryUsedBytes).foldLeft(0L)(math.max) / (1 << 20).toDouble
      val line = f"""{"query":"$name","events":$inRows,"wall_s":${
        Bench.fmt(wall)},"events_per_s":${(inRows / wall).toLong},""" +
        f""""batches":$batches,"state_rows_max":$stateRowsMax,""" +
        f""""state_mb_max":${Bench.fmt(stateMbMax)},"out_rows":$outRows}"""
      println(s"[stream-scale] $line")
      line
    }
    val blob = s"""{"stream_scale":[${results.mkString(",")}],""" +
      s""""total_events":$total,"slices":$slices}"""
    try {
      val p = java.nio.file.Paths.get("target/stream_scaling.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, blob.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    println(blob)
    spark.stop()
  }

  /** Slice the corpus events into time-range-ordered files whose
    * modified-times follow slice order (the file source processes
    * oldest-mtime first), so the stream replays history in event time.
    */
  def stageTimeOrdered(spark: SparkSession, dir: String,
                       slices: Int): String = {
    val out = s"/tmp/graft_stream_stage_${new java.io.File(dir).getName}_$slices"
    val done = new java.io.File(out, "_staged")
    if (done.exists()) return out
    val tmp = out + "_tmp"
    graft.sources.Tables.events(spark, dir)
      .repartitionByRange(slices, col("ts"))
      .sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(tmp)
    val outDir = new java.io.File(out)
    if (outDir.exists())
      outDir.listFiles().foreach(f => { f.delete(); () })
    outDir.mkdirs()
    // part-00000 is range slice 0 (range partition ids are ordered by
    // boundary): move + stamp ascending mtimes in slice order
    val parts = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).sortBy(_.getName)
    val base = System.currentTimeMillis() - parts.length * 2000L
    parts.zipWithIndex.foreach { case (f, i) =>
      val dst = new java.io.File(outDir, f"evt-$i%05d.parquet")
      java.nio.file.Files.move(f.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dst.setLastModified(base + i * 2000L)
      ()
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    done.createNewFile()
    out
  }
}
