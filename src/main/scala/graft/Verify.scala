package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // fitted-literal oracle generators must reject fits from other dirs
    SparkEntry.oracleDumpDir.set(sfDir)
    // the bench's configuration: the engine's session factory, with the
    // shuffle width tuned to this corpus — so the gate checks the plans
    // the bench times
    val spark = graft.engine.GraftSession.getOrCreate("graft-verify")
    graft.engine.Partitioning.autoTune(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // diagnostics: SPARK_GRAFT_ONLY=q1,q2 restricts the dump (local
    // iteration; the driver always runs the full set)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      // scoped reclaim of operator-internal checkpoint pins (see
      // graft.engine.CheckpointScope) — 190+ queries in one session
      // would otherwise accumulate every Dedup, Ann, Graph, Curation
      // and Maintenance checkpoint
      try graft.engine.CheckpointScope.withCheckpointScope(spark) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Fit provenance for the generated (fitted-literal) oracles: always
    // into the dump dir; into the committed repo copy only on a FULL
    // run (a SPARK_GRAFT_ONLY diagnostic run has most fits absent and
    // must not clobber the round's record). The repo copy resolves
    // against SPARK_GRAFT_REPO_ROOT when set, else sbt's launch dir
    // (sys.props user.dir — the repo root under `sbt runMain`, and
    // stable against any library chdir), so running Verify from
    // elsewhere still lands the round's record in the repo.
    try {
      Files.writeString(Paths.get(s"$outDir/fit_provenance.md"),
        SparkEntry.fitProvenance)
      if (only.isEmpty) {
        val repoRoot = sys.env.get("SPARK_GRAFT_REPO_ROOT")
          .orElse(sys.props.get("user.dir")).getOrElse(".")
        Files.writeString(Paths.get(repoRoot, "FIT_PROVENANCE.md"),
          SparkEntry.fitProvenance)
      }
    } catch { case e: Throwable =>
      System.err.println(s"[verify] fit provenance write failed: $e")
    }
    spark.stop()
  }
}
