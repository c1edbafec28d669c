package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.sources.Tables.table

/** Lake-maintenance operators: the passes a 100 TB table needs between
  * queries, not inside them. The reference has no table-maintenance
  * surface at all (its results directory is write-once,
  * materialize_files_task.rs); these are first-class, oracle-checked
  * operators here because at scale they gate every downstream read.
  */
object Maintenance {

  /** Target output file size for [[compactFiles]] — the small-file
    * compaction knob. 128 MB matches the scan-split sweet spot
    * (`spark.sql.files.maxPartitionBytes`'s default), so a compacted
    * table plans one task per file with no split seams.
    */
  val TargetFileBytes: Long = 128L << 20

  /** What one selective compaction pass did. `untouched` are the
    * right-sized files left byte-identical in place.
    */
  final case class CompactionStats(untouched: Int, rewrittenSmall: Int,
                                   outputsWritten: Int, bytesRewritten: Long)

  /** SELECTIVE bin-packing compaction: rewrite ONLY the files below
    * `smallThreshold`, packed into ~`target`-byte outputs; right-sized
    * files are never read, never rewritten, byte-identical afterwards.
    * That selectivity is what makes the pass affordable at scale — a
    * 100 TB table with 1 GB of fresh streaming fragments costs a 1 GB
    * rewrite, not a 100 TB one. Cost tracks the SMALL-file byte volume:
    * one FS listing (metadata, O(files)), one distributed read of just
    * the small files, one write of ceil(smallBytes/target) outputs.
    *
    * Swap protocol: outputs land in a `_compact_tmp` subdir (underscore
    * prefix = invisible to Spark/Hive readers), are MOVED into the table
    * dir only after the write commits, and the fragments are deleted
    * last. A crash before the moves is a clean no-op re-run; the
    * move→delete window is not atomic — on a live lake that swap is
    * exactly what a table format's (Delta/Iceberg) commit provides, and
    * this pass assumes the offline maintenance window a format-less
    * directory table requires anyway.
    *
    * Bin-packing note: smalls are round-robin `repartition`ed into the
    * size-derived output count, so outputs land near `target` each; if
    * the total small volume is below `target` the single residual output
    * is itself "small" — the minimum any packer can leave.
    */
  def compactSelective(s: SparkSession, dirPath: String,
                       smallThreshold: Long,
                       target: Long = TargetFileBytes): CompactionStats = {
    val p = new org.apache.hadoop.fs.Path(dirPath)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(p).toSeq
    val files = entries
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val (small, big) = files.partition(_.getLen < smallThreshold)
    val here =
      if (small.size <= 1) // nothing worth packing at this level
        CompactionStats(files.size, 0, 0, 0L)
      else {
        val smallBytes = small.map(_.getLen).sum
        val n = math.max(1L, (smallBytes + target - 1) / target).toInt
        val tmp = new org.apache.hadoop.fs.Path(p, "_compact_tmp")
        s.read.parquet(small.map(_.getPath.toString): _*)
          .repartition(n)
          .write.mode("overwrite").parquet(tmp.toString)
        val outs = fs.listStatus(tmp).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        // every packed output must be IN PLACE before any source file is
        // deleted: Hadoop rename signals failure by returning false, and
        // ignoring it here would delete the only copy of the packed rows.
        // On a mid-loop failure the already-moved outputs are ROLLED BACK
        // (they duplicate rows of the still-present sources — leaving
        // them would double-count on every read), restoring the table to
        // its pre-pass state before aborting.
        val moved = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.hadoop.fs.Path]
        outs.foreach { o =>
          val dest = new org.apache.hadoop.fs.Path(p, o.getPath.getName)
          if (!fs.rename(o.getPath, dest)) {
            moved.foreach(fs.delete(_, false))
            fs.delete(tmp, true)
            throw new IllegalStateException(
              s"compaction aborted: rename ${o.getPath} -> $dest failed; " +
                "moved outputs rolled back, sources left untouched")
          }
          moved += dest
        }
        // fs.delete also signals failure by returning false: a fragment
        // that survives next to its packed copy double-counts its rows on
        // every read. If NO fragment was deleted yet, the moved outputs
        // roll back (clean pre-pass state, like the rename path); once
        // ANY fragment is gone the packed outputs are the only complete
        // copy of its rows, so they must stay — the pass throws naming
        // the surviving fragments so the duplicated-rows state is
        // surfaced, never reported as success.
        val undeleted = small.filterNot(f => fs.delete(f.getPath, false))
        if (undeleted.nonEmpty) {
          if (undeleted.size == small.size) { // nothing deleted: safe undo
            moved.foreach(fs.delete(_, false))
            fs.delete(tmp, true)
            throw new IllegalStateException(
              "compaction aborted: no source fragment could be deleted; " +
                "packed outputs rolled back, table restored to its " +
                "pre-pass state")
          }
          fs.delete(tmp, true)
          throw new IllegalStateException(
            s"compaction INCOMPLETE: ${undeleted.size} source fragment(s) " +
              s"survive next to their packed copy (first: " +
              s"${undeleted.head.getPath}) and double-count on reads; " +
              "delete them (their rows are fully contained in the packed " +
              "outputs) to finish the pass")
        }
        fs.delete(tmp, true)
        CompactionStats(big.size, small.size, outs.size, smallBytes)
      }
    // Hive-partitioned tables nest files under key=value dirs: compact
    // each partition leaf INDEPENDENTLY (a file only ever packs with
    // files of its own partition — partition values live in dir names,
    // so cross-partition packing would corrupt them). Underscore- and
    // dot-prefixed dirs (_SUCCESS markers, checkpoints) are skipped,
    // matching Spark's own listing rules.
    val subdirStats = entries
      .filter(d => d.isDirectory &&
        !d.getPath.getName.startsWith("_") &&
        !d.getPath.getName.startsWith("."))
      .map(d => compactSelective(s, d.getPath.toString, smallThreshold,
        target))
    subdirStats.foldLeft(here) { (a, b) =>
      CompactionStats(a.untouched + b.untouched,
        a.rewrittenSmall + b.rewrittenSmall,
        a.outputsWritten + b.outputsWritten,
        a.bytesRewritten + b.bytesRewritten)
    }
  }

  /** Small-file compaction (oracle-checked): build the state every
    * streaming/incremental ingest leaves behind — a few right-sized
    * files plus a swarm of fragments IN THE SAME directory — then run
    * [[compactSelective]] over it and return the re-read rows. The
    * DuckDB oracle reads the original table, so the hash match proves
    * the pass is value-exact — the whole point of a maintenance pass is
    * that queries cannot tell it ran, except by being faster.
    * MaintenanceSpec additionally pins the selectivity contract: the
    * planted right-sized files keep their exact length and checksum
    * while every fragment disappears.
    *
    * The demo's threshold is derived from the planted layout by the
    * largest-gap split of the file-size distribution ([[gapThreshold]]):
    * the mix is bimodal by construction (2 right-sized files vs 48
    * fragments), and the gap split finds the modes at every scale
    * factor — at tiny SFs the per-file parquet overhead compresses
    * absolute size ratios, so a fixed fraction of the max misfires
    * where the gap split cannot. A production invocation passes its own
    * threshold/target knobs.
    */
  def compactFiles(s: SparkSession, dir: String): DataFrame = {
    val src = table(s, dir, "part")
    val base = graft.sources.RoundTrip.scratch("compact", dir)
    val mixed = s"$base/mixed"
    // right-sized generation: 3/4 of the table in two files
    src.filter(col("p_partkey") % 4 =!= 0).repartition(2)
      .write.mode("overwrite").parquet(mixed)
    // fragment generation: the remaining 1/4 sprayed across 48 files
    src.filter(col("p_partkey") % 4 === 0).repartition(48)
      .write.mode("append").parquet(mixed)
    val p = new org.apache.hadoop.fs.Path(mixed)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val sizes = fs.listStatus(p)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).toSeq
    compactSelective(s, mixed, smallThreshold = gapThreshold(sizes))
    graft.sources.Tables.readFiles(s, s"$mixed/*.parquet")
  }

  /** Midpoint of the largest gap in a size distribution — separates the
    * two modes of a bimodal layout regardless of absolute sizes.
    */
  private[operators] def gapThreshold(sizes: Seq[Long]): Long = {
    val s = sizes.sorted
    var bestGap = -1L
    var t = s.head
    var i = 0
    while (i < s.length - 1) {
      val gap = s(i + 1) - s(i)
      if (gap > bestGap) { bestGap = gap; t = s(i) + gap / 2 + 1 }
      i += 1
    }
    t
  }

  /** Contiguous 0-based row-id assignment in `doc_id` order
    * (oracle-checked) — the sample-index column a training pipeline
    * stamps before sharding, where `monotonically_increasing_id` is
    * non-contiguous and `row_number() OVER (ORDER BY ...)` collapses
    * the corpus into ONE window partition.
    *
    * The scalable formulation is the classic two-pass offset scheme:
    * range-partition + sort within partitions (the distributed sort
    * Spark already does well), count rows per partition (a
    * #partitions-sized driver array — O(parallelism), not O(rows)),
    * prefix-sum the counts into per-partition offsets, then stamp
    * offset + local index in one mapPartitions pass. This is the one
    * legitimately imperative per-partition step in the codebase's
    * relational surface, hence the RDD hop. Ids are deterministic
    * regardless of where range boundaries land: partitions are ordered
    * by range and rows sorted within, so the global order — and thus
    * every id — is the total `doc_id` order.
    *
    * The two passes (count, stamp) read ONE materialization of the
    * range shuffle: the partitioned frame is `localCheckpoint`ed
    * (eager), so the sort is computed once and both traversals serve
    * from the checkpoint blocks instead of re-shuffling — at scale the
    * sort IS the job's cost, so recomputing it doubled the pass. (A
    * cluster deployment that must survive executor loss mid-pass would
    * use a reliable checkpoint dir instead; same shape, durable
    * blocks.) Per-partition row counters are Long end to end — a 100 TB
    * table overflows an Int counter at ~2³¹ rows per partition.
    */
  def assignRowIds(s: SparkSession, dir: String): DataFrame = {
    val parted = table(s, dir, "documents").select(col("doc_id"))
      .repartitionByRange(s.sparkContext.defaultParallelism, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .localCheckpoint() // eager: the range shuffle materializes ONCE
    val rdd = parted.rdd
    val counts = rdd
      .mapPartitionsWithIndex { (i, it) =>
        var c = 0L
        while (it.hasNext) { it.next(); c += 1L }
        Iterator((i, c))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val stamped = rdd.mapPartitionsWithIndex { (i, it) =>
      var j = 0L
      it.map { r =>
        val out = Row(r.getLong(0), offsets(i) + j)
        j += 1L
        out
      }
    }
    s.createDataFrame(stamped, StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("idx", LongType, nullable = false))))
  }
}
