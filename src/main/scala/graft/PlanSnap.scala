package graft

/** Diagnostic main: writes each named query's `.explain("formatted")`
  * physical plan to plans/<round>/<query>_<tag>.txt — the before/after
  * plan artifacts the optimization rounds commit as evidence.
  *
  *   runMain graft.PlanSnap <outDir> <tag> [sfDir] [query ...]
  *   e.g. runMain graft.PlanSnap plans/r21 before /root/testdata/sf0.1 \
  *          fivegram_ll profile_table
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanSnap <outDir> <tag> [sfDir] [q...]")
    val outDir = args(0)
    val tag = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val names = if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.engine.GraftSession.getOrCreate("graft-plan-snap")
    graft.engine.Partitioning.autoTune(spark, sfDir)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${n}_$tag.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plansnap] wrote $outDir/${n}_$tag.txt")
      } catch { case e: Throwable =>
        println(s"[plansnap] $n ERROR: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
