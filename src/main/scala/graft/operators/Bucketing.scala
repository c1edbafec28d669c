package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Relational.dsum
import graft.sources.Tables.table

/** Bucketed (pre-partitioned) co-located join — the one join layout the
  * repo had not yet demonstrated: when two big tables are repeatedly
  * joined on the same key, pay the shuffle ONCE at write time
  * (`bucketBy` on the join key) and every subsequent join reads
  * bucket-aligned files with NO exchange on either side. At 100 TB this
  * is the difference between re-shuffling the fact table on every
  * pipeline run and never shuffling it again — the standard warehouse
  * layout for fact-to-fact joins too big to broadcast and too frequent
  * to re-shuffle (Hive/Spark bucketing; Iceberg's bucket partition
  * transform is the same contract).
  *
  * Device: Spark's bucket id is `pmod(murmur3(key), n)` — the SAME
  * function its shuffle HashPartitioning uses — so a
  * `repartition(n, key)` before the bucketed write lands each bucket's
  * rows in exactly one task, producing ONE file per bucket; with
  * `sortBy` the files are key-sorted, so the downstream sort-merge join
  * skips both the exchange AND the per-partition sort (PlanSpec pins
  * the single-exchange plan: only the final small aggregate shuffles).
  *
  * The layout cost is deliberately inside the query (memoized once per
  * (dir, JVM)) — a pipeline amortizes it across every later join on the
  * key, which is the honest accounting of why bucketing wins.
  *
  * Correctness is layout-independent (the oracle runs the same
  * join+aggregate over the un-bucketed parquet), which is exactly the
  * point: bucketing changes the PLAN, never the ANSWER.
  *
  * Reference: no bucketed storage exists there (its only source is the
  * read_files glob scan, read_files_task.rs:156-291); north-star scale
  * scope.
  */
object Bucketing {

  /** Floor bucket count and target on-disk bytes per bucket. The count
    * a dir actually gets is SIZE-DERIVED ([[numBucketsFor]]): the fact
    * table's parquet footprint / [[TargetBucketBytes]], rounded UP to a
    * power of two so any two derived counts divide each other — Spark
    * joins two bucketed tables shuffle-free when the counts match or
    * one is a multiple of the other, and power-of-two rounding keeps
    * that property as tables grow at different rates. At the test SFs
    * the derivation lands on the floor (8); at sf1000 a ~70 GB
    * lineitem would get 512+ buckets — the same code path, no retuning.
    */
  val MinBuckets = 8
  val TargetBucketBytes: Long = 128L << 20

  /** Size-derived bucket count for a dir's lineitem footprint (the
    * bigger join side governs). Pure function of on-disk bytes, so it
    * is stable across sessions over an immutable dir.
    *
    * Footprint via the Hadoop FileSystem API, not java.io.File: the
    * size-derived contract must hold for every URI scheme Tables.table
    * can read (s3a://, hdfs://, nested layouts), where a local-File
    * probe would silently report 0 bytes and pin the floor count at
    * exactly the scale the derivation exists for. getContentSummary
    * sums recursively, covering partitioned/multi-file layouts. A
    * missing path is an error, never a 0-byte derivation.
    */
  def numBucketsFor(s: SparkSession, dir: String): Int = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/lineitem.parquet")
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.exists(path), s"numBucketsFor: $path does not exist")
    val bytes = fs.getContentSummary(path).getLength
    val need = (bytes + TargetBucketBytes - 1) / TargetBucketBytes
    var n = MinBuckets
    while (n < need && n < (1 << 30)) n <<= 1
    n
  }

  /** (dir, nBuckets) -> (lineitem view, orders view) registered bucketed
    * tables; memoized so bench reps and repeated queries pay the write
    * once per JVM (immutable-dir assumption, same as Ann.fitCache).
    */
  private val prepared = new java.util.concurrent.ConcurrentHashMap[
    (String, Int), (String, String)]()

  /** Write the two join sides bucketed + sorted by the join key, one
    * file per bucket, pruned to the columns the join consumes. Tables
    * are registered in the session catalog (bucketing metadata lives
    * there — a bare parquet read of the same files would not know the
    * layout); names and paths are keyed by (dir, count) so concurrent
    * specs over different SFs or bucket counts never collide.
    */
  def ensureBucketed(s: SparkSession, dir: String,
                     nBuckets: Int = 0): (String, String) = {
    val n = if (nBuckets > 0) nBuckets else numBucketsFor(s, dir)
    prepared.computeIfAbsent((dir, n), { _ =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_") + s"_$n"
      val base = s"target/bucketed/$tag"
      val lb = s"graft_lineitem_b$tag"
      val ob = s"graft_orders_b$tag"
      table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
        .repartition(n, col("l_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(n, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/lineitem").saveAsTable(lb)
      table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .repartition(n, col("o_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(n, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/orders").saveAsTable(ob)
      (lb, ob)
    })
  }

  /** lineitem ⋈ orders on the bucket key, then a tiny priority rollup.
    * The merge hint keeps the demo in the sort-merge regime the layout
    * targets (a broadcast of sf0.001's orders would hide the point; at
    * the scales bucketing exists for, neither side broadcasts). The join
    * skips its per-partition sorts on a session with the engine's
    * `bucketedTableScan.outputOrdering` conf (`GraftSession.EngineConfs`),
    * since ensureBucketed writes one file per bucket.
    */
  def bucketJoin(s: SparkSession, dir: String): DataFrame = {
    val (lb, ob) = ensureBucketed(s, dir)
    s.table(lb).hint("merge")
      .join(s.table(ob), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"))
  }
}
