package graft.exec

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

/** Query-result materialization, mirroring the reference's layout: every
  * query's output is persisted as Parquet under
  * `<root>/query_results/<query_uuid>/rec_<N>.parquet` with sequential
  * batch numbering (materialize_files_task.rs:118-142), which the cursor
  * pager then walks by (file, row_group, row).
  *
  * Spark writers emit `part-*` names, so the materializer renames the
  * committed parts in lexicographic order — preserving the writer's
  * partition order — to the deterministic `rec_N` scheme the cursor
  * contract requires (SURVEY.md §7.5 "result layout compatibility").
  *
  * Scale note: materialization is `df.write.parquet` — fully distributed,
  * one file per task. Only the rename pass is driver-side (metadata-only,
  * O(#files)).
  */
object ResultMaterializer {

  /** One materialized result file + its per-row-group row counts (from the
    * parquet footer, the same metadata the reference's QueryDataHandler
    * reads) and the Spark schema JSON Spark's writer stores in that footer
    * (None for files written without it).
    */
  final case class ResultFile(path: String, rowGroupRows: Vector[Long],
                              sparkSchema: Option[String] = None) {
    def rows: Long = rowGroupRows.sum
  }

  /** A materialized result directory in cursor order. */
  final case class ResultSet(dir: String, files: Vector[ResultFile]) {
    def totalRows: Long = files.map(_.rows).sum
  }

  /** List a directory eagerly, CLOSING the stream (Files.list leaks a
    * directory fd until closed — fatal on repeating paths like the
    * streaming commit loop).
    */
  private def listDir(d: Path): Vector[Path] = {
    val st = Files.list(d)
    try st.iterator().asScala.toVector finally st.close()
  }

  /** Commit one DataFrame as a single parquet file under `target` via
    * write-to-temp-dir + atomic rename of the part file — the shared
    * primitive of incremental and streaming materialization.
    */
  private def commitSingleFile(df: DataFrame, dir: Path,
                               tag: String, target: Path,
                               skipIfExists: Boolean = false): Unit = {
    // EXACTLY-ONCE fast path (streaming re-delivery): a target that
    // already exists IS this batch's committed result — the rename
    // below only ever runs after a complete temp write, so an existing
    // rec_N is never partial. Skipping (a) avoids re-evaluating the
    // batch write and (b) never swaps a file a concurrent pager may be
    // addressing; the first committed version is THE version.
    if (skipIfExists && Files.exists(target)) return
    val tmp = dir.resolve(s".$tag.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = listDir(tmp)
      .find(_.getFileName.toString.startsWith("part-"))
      .getOrElse(sys.error(s"no part file in $tmp"))
    // A re-committed target (non-streaming rewrite paths) must replace:
    // POSIX rename does, but ATOMIC_MOVE's replace-on-exists is
    // implementation-specific — fall back explicitly where it throws.
    try Files.move(part, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(target)
        Files.move(part, target, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    deleteRecursively(tmp)
  }

  /** Write `df` as `<root>/<queryId>/rec_N.parquet`. */
  def materialize(df: DataFrame, root: String, queryId: String): ResultSet = {
    val dir = Paths.get(root, queryId)
    // scoped reclaim of operator-internal checkpoint pins: once the
    // write completes the plan is spent, so whatever it pinned (the
    // Dedup, Ann, Graph, Curation and Maintenance checkpoints) is dead
    // weight in a long-lived serving session
    graft.engine.CheckpointScope.withCheckpointScope(df.sparkSession) {
      df.write.mode("overwrite").parquet(dir.toString)
    }
    val parts = listDir(dir)
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString)
    parts.zipWithIndex.foreach { case (p, i) =>
      Files.move(p, dir.resolve(s"rec_$i.parquet"))
    }
    open(dir.toString)
  }

  /** Incremental materialization — the reference serves pages while
    * materialization is still running (ROADMAP item 5): the result streams
    * to the driver PARTITION-BY-PARTITION (`toLocalIterator` computes
    * upstream partitions lazily), and every `rowsPerFile` rows a
    * `rec_N.parquet` is committed and announced via `onFile` — so a
    * CursorPager over the files-so-far serves pages long before the last
    * partition finishes. Driver-streamed by design: this is the
    * interactive SERVING path; bulk materialization stays the fully
    * distributed [[materialize]]. Each commit is an atomic rename, so
    * concurrent readers never observe a partial file.
    */
  def materializeIncremental(df: DataFrame, root: String, queryId: String,
                             rowsPerFile: Int = 65536,
                             onFile: ResultFile => Unit = _ => ()): ResultSet = {
    val spark = df.sparkSession
    val dir = Paths.get(root, queryId)
    Files.createDirectories(dir)
    val schema = df.schema
    val buf = new java.util.ArrayList[org.apache.spark.sql.Row](rowsPerFile)
    var idx = 0
    val files = Vector.newBuilder[ResultFile]
    def flush(): Unit = if (!buf.isEmpty) {
      val target = dir.resolve(s"rec_$idx.parquet")
      commitSingleFile(spark.createDataFrame(buf, schema), dir,
        s"rec_$idx", target)
      val rf = readFooter(target)
      files += rf
      onFile(rf)
      buf.clear()
      idx += 1
    }
    val it = df.toLocalIterator()
    while (it.hasNext) {
      buf.add(it.next())
      if (buf.size() >= rowsPerFile) flush()
    }
    flush()
    ResultSet(dir.toString, files.result())
  }

  /** Streaming twin of [[materializeIncremental]]: a Structured Streaming
    * query whose micro-batches commit rec_N files (N = batch id; gaps
    * from empty batches are fine — the cursor layout orders by N, not by
    * contiguity) into the SAME layout the cursor pager serves, each via
    * atomic rename. A client can page a streaming pipeline's output with
    * the exact API it uses for batch results, while the stream runs.
    */
  def materializeStream(stream: DataFrame, root: String, queryId: String,
                        checkpoint: Option[String] = None): StreamingQuery = {
    val dir = Paths.get(root, queryId)
    Files.createDirectories(dir)
    // A STABLE checkpoint (default: inside the result dir) is what makes
    // restarts safe: the engine re-delivers the one uncommitted batch
    // under its ORIGINAL batchId, so the rec_N commit is an idempotent
    // overwrite — without it a restart would renumber from 0 and
    // interleave two runs' files.
    val ckpt = checkpoint.getOrElse(dir.resolve(".checkpoint").toString)
    stream.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // batch-id-keyed idempotent commit: temp write + rename IFF the
        // batch id is unseen (skipIfExists). A crash between the sink
        // commit and the checkpoint's commit record makes the engine
        // re-deliver this batchId on restart — the skip turns that
        // replay into a no-op instead of a duplicate or a rewrite, so
        // exactly one rec_N ever pages out per batch (StreamingSpec
        // proves it by forcing a replay).
        if (!batch.isEmpty)
          commitSingleFile(batch.toDF(), dir, s"rec_$batchId",
            dir.resolve(s"rec_$batchId.parquet"), skipIfExists = true)
      }
      .start()
  }

  /** Compaction — the reference's TODO ("materializing files should be
    * able to compact"): rewrite a result directory so no file except the
    * last holds fewer than `minRowsPerFile` rows, preserving global row
    * order. Footer metadata (already loaded) decides which runs of small
    * files merge; untouched files are renamed into place, so a fully
    * compacted directory is a no-op. Returns the re-opened ResultSet.
    * NOTE: invalidates outstanding cursors (file/group indices shift) —
    * run between serving sessions, same as the reference intended.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
              minRowsPerFile: Long = 65536L,
              allowStreamed: Boolean = false): ResultSet = {
    val d = Paths.get(dir)
    // Compaction renumbers files — fundamentally incompatible with a
    // LIVE writer (a concurrent materializeStream commit would be swept
    // as a stale input). A streamed dir carries a .checkpoint; require
    // the caller to assert the stream is stopped before compacting it.
    require(allowStreamed || !Files.exists(d.resolve(".checkpoint")),
      s"$dir was stream-materialized; stop the stream and pass " +
        "allowStreamed=true to compact it")
    val rs = open(dir) // replays an interrupted commit if marker present
    // a previous attempt that died BEFORE its marker left only
    // non-destructive leftovers (originals intact) — clear and redo
    listDir(d).foreach { p =>
      val n = p.getFileName.toString
      if (n.endsWith(".parquet.new") || n.startsWith(".compact_") ||
          n == s"$CompactMarker.tmp")
        deleteRecursively(p)
    }
    // group consecutive files into runs of >= minRowsPerFile rows
    val runs = Vector.newBuilder[Vector[ResultFile]]
    var cur = Vector.empty[ResultFile]
    var curRows = 0L
    rs.files.foreach { f =>
      cur :+= f
      curRows += f.rows
      if (curRows >= minRowsPerFile) {
        runs += cur; cur = Vector.empty; curRows = 0L
      }
    }
    if (cur.nonEmpty) runs += cur
    val planned = runs.result()
    if (planned.forall(_.length == 1)) return rs // already compact
    // Stage EVERY output as rec_N.parquet.new without touching an
    // original: merged runs are written fresh, kept files are COPIED.
    // Up to the marker write below, nothing destructive has happened —
    // a crash leaves the original rec_N set fully intact (leftovers are
    // swept on the next attempt).
    planned.zipWithIndex.foreach { case (run, i) =>
      val target = d.resolve(s"rec_$i.parquet.new")
      if (run.length == 1) {
        Files.copy(Paths.get(run.head.path), target)
        ()
      } else {
        val tmp = d.resolve(s".compact_$i")
        // one file per run; coalesce(1) keeps the concatenation order of
        // the (already ordered) inputs read in rec order
        val dfs = run.map(f => spark.read.parquet(f.path))
        dfs.reduce(_ unionAll _).coalesce(1)
          .write.mode("overwrite").parquet(tmp.toString)
        val part = listDir(tmp)
          .find(_.getFileName.toString.startsWith("part-"))
          .getOrElse(sys.error(s"no part file in $tmp"))
        Files.move(part, target)
        deleteRecursively(tmp)
      }
    }
    // Atomically-committed marker: once it exists, the staged .new set is
    // complete and the commit tail is replayable from any crash point;
    // until it exists, the original files are untouched.
    val markerTmp = d.resolve(s"$CompactMarker.tmp")
    Files.write(markerTmp, planned.length.toString.getBytes("UTF-8"))
    Files.move(markerTmp, d.resolve(CompactMarker),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    finishCompaction(d, planned.length)
    open(dir)
  }

  private val CompactMarker = ".compacting"

  /** Idempotent commit tail: delete stale inputs, rename `.new` outputs
    * into place, clear temp dirs, drop the marker. Safe to re-run from
    * any interruption point — every step checks existence first.
    */
  private def finishCompaction(d: Path, nOut: Int): Unit = {
    listDir(d).foreach { p =>
      val n = p.getFileName.toString
      if (n.startsWith("rec_") && n.endsWith(".parquet")) {
        // a stale input, UNLESS it's an already-committed output (index
        // < nOut and its .new counterpart is gone)
        val idx = n.stripPrefix("rec_").stripSuffix(".parquet").toInt
        val committed =
          idx < nOut && !Files.exists(d.resolve(s"rec_$idx.parquet.new"))
        if (!committed) Files.delete(p)
      } else if (n.startsWith(".compact_")) deleteRecursively(p)
    }
    listDir(d).foreach { p =>
      val n = p.getFileName.toString
      if (n.endsWith(".parquet.new"))
        Files.move(p, d.resolve(n.stripSuffix(".new")))
    }
    Files.deleteIfExists(d.resolve(CompactMarker))
    ()
  }

  /** Recursive delete (no-op if absent) — also the cleanup primitive for
    * AsyncQueryRunner.forget.
    */
  private[exec] def deleteTree(p: Path): Unit = deleteRecursively(p)

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
    ()
  }

  /** Open an existing result dir: list rec_N files in numeric order and
    * read row-group row counts from each footer. If a compaction was
    * interrupted (marker present), its idempotent commit tail is finished
    * first — the staged `.new` outputs are complete by the time the
    * marker is written, so recovery is always possible.
    */
  def open(dir: String): ResultSet = {
    val marker = Paths.get(dir).resolve(CompactMarker)
    if (Files.exists(marker)) {
      val nOut = new String(Files.readAllBytes(marker), "UTF-8").trim.toInt
      finishCompaction(Paths.get(dir), nOut)
    }
    val files = listDir(Paths.get(dir))
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("rec_") && n.endsWith(".parquet")
      }
      .sortBy(p => p.getFileName.toString
        .stripPrefix("rec_").stripSuffix(".parquet").toInt)
    ResultSet(dir, files.map(readFooter))
  }

  /** Footer key under which Spark's parquet writer stores the row schema. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  // one conf for every footer read: a fresh Configuration re-parses the
  // default resources, which cost more than the footer read itself
  private lazy val footerConf = new Configuration()

  private def readFooter(p: Path): ResultFile = {
    val in = HadoopInputFile.fromPath(new HPath(p.toString), footerConf)
    val reader = ParquetFileReader.open(in)
    try {
      val footer = reader.getFooter
      val groups = footer.getBlocks.asScala
        .map(_.getRowCount.toLong).toVector
      ResultFile(p.toString, groups, Option(
        footer.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey)))
    } finally reader.close()
  }
}
