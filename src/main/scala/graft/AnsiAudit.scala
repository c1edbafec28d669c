package graft

import scala.util.control.NonFatal

/** Diagnostic main: full-evaluate every registry query with
  * `spark.sql.ansi.enabled=true` and report which ones fail.
  *
  * Why this exists: the engine's contract is ANSI-clean execution — no
  * silent overflow, no bad-cast nulls — and the earlier audits (ROADMAP
  * round-3 item) were manual sweeps that rot as the registry grows.
  * This main is the repeatable form: run it after adding queries, at
  * any SF dir. Exit code 0 = every query fully evaluated (noop sink, no
  * column-prune shortcut) under ANSI; 1 = failures, each named with its
  * error head on stderr.
  *
  *   sbt "runMain graft.AnsiAudit /root/testdata/sf0.01"
  */
object AnsiAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.engine.GraftSession.getOrCreate("graft-ansi-audit",
      Map("spark.sql.ansi.enabled" -> "true"))
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          None
        } catch {
          // NonFatal only: an OutOfMemoryError or linkage error is an
          // environmental crash, not a per-query ANSI failure — let it
          // abort the audit instead of being misattributed to `name` and
          // continuing the sweep on a possibly corrupted session.
          case NonFatal(e) =>
            val head = Option(e.getMessage).getOrElse(e.getClass.getName)
              .linesIterator.take(1).mkString
            System.err.println(s"[ansi] $name FAILED: $head")
            Some(name)
        }
    }
    println(s"[ansi] ${SparkEntry.queries.size - failures.size}/" +
      s"${SparkEntry.queries.size} queries ANSI-clean at $sfDir" +
      (if (failures.isEmpty) "" else s"; FAILED: ${failures.mkString(",")}"))
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
