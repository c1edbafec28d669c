package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.QueryMetrics
import graft.operators.Ann

/** The native top-nProbe probe walk ([[graft.functions.VecCellTopN]] /
  * [[Ann.cellTopN]]) and the cell-partitioned IVF artifact — round 16's
  * probe-side work. Pins:
  *  1. FLAT parity: cellTopN over real corpus vectors selects exactly
  *     the cells of the window formulation it replaced (rank by
  *     squared-L2 asc, cell asc, keep nProbe) — the gate-SF mode, so
  *     every ann oracle is provably untouched;
  *  2. TWO-LEVEL parity: above TwoLevelAssignThreshold the expression
  *     walks (super rank by (dist, branch), smallest prefix with
  *     cumulative members >= ProbeOverscan x n, exact top-n within)
  *     bit-identically to an independent driver-side reference of the
  *     same rule — the structure the DuckDB oracle mirror interpolates;
  *  3. the IVF artifact is cell-partitioned and the broadcast probe
  *     join DYNAMICALLY PRUNES it: a one-query delta with a small
  *     nProbe reads fewer index files than a probe of every cell
  *     (executed-plan metrics, the LayoutSpec device).
  */
class AnnProbeSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  val dir = "/root/testdata/sf0.001"

  test("flat cellTopN == the window-rank probe it replaced, cell for cell") {
    val cents = Ann.fitCentroids(spark, dir, Ann.IvfCentroids)
    val nProbe = Ann.IvfProbe
    val e = graft.sources.Tables.table(spark, dir, "embeddings")
      .filter(col("vec_id") < 10)
    val viaExpr = e.select(col("vec_id").as("q_id"),
        explode(Ann.cellTopN(col("embedding"), cents, nProbe)).as("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // the historical formulation: literal centroid explode + window rank
    import graft.functions.{VectorFunctions => V}
    import org.apache.spark.sql.expressions.Window
    val centExpr = array(cents.zipWithIndex.map { case (c, ci) =>
      struct(lit(ci).as("cell"), array(c.map(lit): _*).as("cv"))
    }: _*)
    val wp = Window.partitionBy(col("q_id"))
      .orderBy(col("d").asc, col("cell").asc)
    val viaWindow = e.select(col("vec_id").as("q_id"),
        col("embedding").as("qe"), explode(centExpr).as("ct"))
      .select(col("q_id"), col("ct.cell").as("cell"),
        V.l2sq(col("qe"), col("ct.cv")).as("d"))
      .withColumn("pr", row_number().over(wp))
      .filter(col("pr") <= nProbe)
      .select(col("q_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(viaExpr === viaWindow)
    assert(viaExpr.nonEmpty)
  }

  test("two-level cellTopN == an independent reference of the prefix-walk " +
       "rule, above the strategy switch") {
    // force k above TwoLevelAssignThreshold on the small corpus
    val k = 100
    require(k > Ann.TwoLevelAssignThreshold)
    val cents = Ann.fitCentroids(spark, dir, k)
    val nProbe = Ann.IvfProbe
    val rows = graft.sources.Tables.table(spark, dir, "embeddings")
      .filter(col("vec_id") < 50)
      .select(col("vec_id"),
        Ann.cellTopN(col("embedding"), cents, nProbe).as("cells"),
        col("embedding"))
      .collect()
    assert(rows.nonEmpty)
    // driver-side reference: the same structure, the same rule, written
    // independently of the expression's insertion sorts
    val branches = Ann.twoLevelStructure(cents)
    def l2(x: Array[Double], c: Array[Double]): Double = {
      var a = 0.0; var i = 0
      while (i < x.length) { val d = x(i) - c(i); a += d * d; i += 1 }
      a
    }
    def reference(x: Array[Double]): Seq[Int] = {
      val ranked = branches.zipWithIndex
        .map { case ((sc, ids), bi) => (l2(x, sc), bi, ids) }
        .sortBy(t => (t._1, t._2))
      val target = Ann.ProbeOverscan.toLong * nProbe
      val chosen = scala.collection.mutable.ArrayBuffer.empty[Int]
      var cum = 0L
      val it = ranked.iterator
      while (it.hasNext && cum < target) {
        val (_, _, ids) = it.next()
        chosen ++= ids; cum += ids.length
      }
      chosen.map(ci => (l2(x, cents(ci)), ci)).sortBy(identity)
        .take(nProbe).map(_._2).toSeq
    }
    rows.foreach { r =>
      // the float embedding widened element-wise to double — exactly
      // the expression's own input conversion
      val x = r.getSeq[Float](2).map(_.toDouble).toArray
      val got = r.getSeq[Int](1)
      assert(got === reference(x), s"vec ${r.getLong(0)}")
    }
  }

  test("cell-partitioned IVF artifact: a one-query probe reads fewer " +
       "index files than an every-cell probe — dynamic partition pruning " +
       "measured on the executed plan") {
    // synthetic dir whose delta carve is ONE vector: remap vec_ids off
    // the %10==7 residue, then plant a single id-7 query
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("ivfdpp").toString
    e.withColumn("vec_id", col("vec_id") * 10 + 1)
      .unionByName(e.limit(1).withColumn("vec_id", lit(7L)))
      .write.parquet(s"$tmp/embeddings.parquet")
    val narrow = QueryMetrics.profile(Ann.annIncremental(spark, tmp, 2))
    val everyCell = QueryMetrics.profile(Ann.annIncremental(spark, tmp,
      Ann.ivfCellsFor(Ann.corpusCount(spark, tmp))))
    assert(narrow.filesRead < everyCell.filesRead,
      s"no pruning: ${narrow.filesRead} vs ${everyCell.filesRead} files")
    assert(narrow.scanRows < everyCell.scanRows)
    info(s"files ${narrow.filesRead}/${everyCell.filesRead}, " +
      s"rows ${narrow.scanRows}/${everyCell.scanRows}")
    // and the narrow probe still produces ranked neighbors
    assert(Ann.annIncremental(spark, tmp, 2).count() > 0L)
  }
}
