package graft.engine

import org.apache.spark.sql.SparkSession

/** Input-size-derived shuffle parallelism — the lever a cluster operator
  * sets by hand (`spark.sql.shuffle.partitions` sized to the data),
  * derived by the engine instead.
  *
  * Why it exists: the session default (= local core count) is right for
  * the test SFs but under-partitions a ×100 corpus on a fixed-heap
  * JVM — the r13 scale sweep needed a hand-set width of 256 to keep
  * the containment join's partitions inside executor memory. The
  * operator should not have to know that number: total input bytes are
  * one Hadoop FS call away (the Bucketing.bucketCountFor device), and
  * the right width follows from them.
  *
  * The derivation targets [[TargetBytesPerPartition]] of INPUT per
  * shuffle partition — deliberately small (4 MiB) because the heavy
  * operators amplify input (gram/shingle explodes, multi-table LSH), so
  * a partition's in-flight footprint is a multiple of its input slice.
  * Over-partitioning is cheap under AQE (coalescing merges small
  * partitions at runtime — this sets `initialPartitionNum`, the
  * PRE-coalesce width); under-partitioning is the OOM. The floor is the
  * session's current width (never tune DOWN below the configured core
  * count), the cap [[MaxPartitions]] bounds scheduler overhead.
  *
  * At every test SF the derived width equals the core-count default, so
  * this is inert where the correctness gate runs — the same fixed-point
  * discipline as the size-adaptive ANN/dedup geometry.
  */
object Partitioning {

  /** Input bytes one shuffle partition should own, pre-amplification. */
  val TargetBytesPerPartition: Long = 4L << 20

  /** Upper bound on the derived width — past this, per-partition
    * scheduling overhead dominates on any realistic executor count.
    */
  val MaxPartitions = 4096

  /** Total on-disk bytes under a corpus dir, via the Hadoop FS of the
    * session (so s3a:// and file:// resolve alike). Memoized per path —
    * corpus dirs are immutable here (the fitCentroids operating
    * assumption); a missing dir counts zero (the caller's floor wins).
    */
  def inputBytes(spark: SparkSession, dir: String): Long =
    cache.computeIfAbsent(dir, { _ =>
      try {
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        java.lang.Long.valueOf(fs.getContentSummary(p).getLength)
      } catch { case scala.util.control.NonFatal(_) =>
        java.lang.Long.valueOf(0L)
      }
    }).longValue()

  /** The shuffle width the corpus warrants on this session: input bytes
    * over [[TargetBytesPerPartition]], floored at the session's BASE
    * configured width (the value before any [[autoTune]] touched it —
    * otherwise a big-corpus tune would ratchet the floor up and a later
    * small-corpus call could never tune back down), capped at
    * [[MaxPartitions]].
    */
  def partitionsFor(spark: SparkSession, dir: String): Int = {
    val base = baseWidth.computeIfAbsent(spark, s =>
      java.lang.Integer.valueOf(
        s.conf.get("spark.sql.shuffle.partitions", "200").toInt)).intValue()
    val fromBytes =
      (inputBytes(spark, dir) + TargetBytesPerPartition - 1) /
        TargetBytesPerPartition
    math.min(MaxPartitions.toLong,
      math.max(base.toLong, fromBytes)).toInt
  }

  private val baseWidth =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Integer]()

  /** Set the session's shuffle parallelism from the corpus size: the
    * AQE pre-coalesce width (`initialPartitionNum` — AQE then merges
    * small partitions back at runtime, so over-width costs little) and
    * the non-AQE floor (`spark.sql.shuffle.partitions`). Both are
    * runtime SQL confs — safe to set between queries, no session
    * rebuild. Returns the width chosen. Call once per corpus before
    * running queries against it; repeated calls are cheap (the size
    * lookup is memoized).
    */
  def autoTune(spark: SparkSession, dir: String): Int = {
    val n = partitionsFor(spark, dir)
    spark.conf.set(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      n.toString)
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    // List moderate path counts on the driver instead of launching a
    // listing JOB: the bucket-partitioned index artifacts hand the
    // reader hundreds of explicit directories per probe, and the
    // default threshold (32) turns every such read into a Spark job
    // whose scheduling overhead dwarfs the listing itself. Genuinely
    // huge path sets (beyond 10k) still distribute.
    spark.conf.set(
      "spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
    // AQE's coalescing floor (minPartitionSize, default 1 MiB) merges
    // post-shuffle partitions by BYTES even under parallelismFirst —
    // the wrong cost model for the engine's CPU-dense stages (md5
    // fingerprint self-joins, cosine kernels: StageProf r21 measured
    // ~0.7-0.9 s of task CPU per shuffled MB, so a 1 MiB floor
    // serializes seconds of compute into 3-15 tasks on a 32-core
    // session). 128 KiB keeps such stages at the session width while
    // staying INERT wherever partitions carry real bytes — at
    // production scale post-shuffle partitions sit near the advisory
    // size (64 MiB), three orders of magnitude above either floor.
    spark.conf.set(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
    n
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  /** Split count Spark can plan for the file(s) at `path` — total bytes
    * over `spark.sql.files.maxPartitionBytes`, floored at 1. This is the
    * CEILING on a scan stage's parallelism: a table written as one
    * small file yields one split, so everything up to the first
    * exchange (tokenize, explode, partial aggregate) runs in a single
    * task no matter how many cores the session has. Bytes-derived, not
    * planned: row-group boundaries can make the true number lower for
    * few-row-group large files, but at the default 128 MB row group the
    * two agree, and the consumer ([[spreadIfNarrow]]) only needs the
    * under-parallelized verdict, not an exact count.
    */
  def scanSplits(spark: SparkSession, path: String): Int = {
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val bytes = inputBytes(spark, path)
    math.max(1L, (bytes + maxSplit - 1) / maxSplit).toInt
  }

  /** Round-robin spread for a CPU-heavy stage fed by an under-split
    * scan — the single-split trap (dedup_ngram: the per-gram md5 pass
    * measured 6.4 s -> ~1 s once spread), as an ENGINE decision instead
    * of an unconditional operator repartition: the exchange is inserted
    * only when the backing files at `path` cannot split wide enough to
    * reach the session's parallelism. A production-scale scan (many
    * files / many row groups) passes through untouched — no shuffle is
    * added where the scan is already wide — while an under-written
    * table (one file, or few files on a large cluster) pays one
    * round-robin exchange of its INPUT rows to buy full-width
    * execution of the expensive stage above it. Result-invariant: a
    * round-robin exchange permutes rows only, and every consumer here
    * aggregates or windows over explicit keys.
    */
  def spreadIfNarrow(spark: SparkSession,
                     df: org.apache.spark.sql.DataFrame,
                     path: String): org.apache.spark.sql.DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    if (scanSplits(spark, path) < par) df.repartition(par) else df
  }

  /** In-flight bytes one shuffle partition should own for an
    * EXPLODE-amplified plan. Larger than [[TargetBytesPerPartition]]
    * because the caller passes post-amplification bytes, not input
    * bytes — 64 MiB of materialized shuffle rows per partition is the
    * classic cluster operating point.
    */
  val TargetInFlightBytesPerPartition: Long = 64L << 20

  /** Operator-declared shuffle width: for plans whose dominant shuffle
    * carries an explode-amplified frame (multi-table multi-probe LSH:
    * corpus × tables × probe-masks rows, each with the embedding),
    * [[autoTune]]'s input-byte derivation under-weights by the
    * amplification factor — the ×100 knn join ground one fixed-width
    * partial aggregate per task through multi-GiB spills. The operator
    * KNOWS its amplification, so it declares rows × bytes-per-row here;
    * the width is in-flight bytes over
    * [[TargetInFlightBytesPerPartition]], floored at the session's
    * current width (never tunes down — [[autoTune]]'s corpus-level
    * choice stays the floor), capped at [[MaxPartitions]]. A pure
    * function: the caller pins the width on its own exchanges
    * (`repartition(n, ...)`), so no session conf changes. Equal to the
    * session width at every gate/bench SF, where the byte-derived width
    * stays below it (same fixed-point discipline as the adaptive
    * ANN/dedup geometry).
    */
  def widthFor(spark: SparkSession, rows: Long, rowBytes: Long): Int = {
    val current = spark.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val fromBytes =
      (rows * rowBytes + TargetInFlightBytesPerPartition - 1) /
        TargetInFlightBytesPerPartition
    math.min(MaxPartitions.toLong,
      math.max(current.toLong, fromBytes)).toInt
  }
}
