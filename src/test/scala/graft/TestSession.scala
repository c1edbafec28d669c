package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run, with the
  * engine's read semantics (`GraftSession.EngineConfs`).
  */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .withExtensions(new graft.engine.GraftExtensions)
      .config(graft.engine.GraftSession.EngineConfs)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
