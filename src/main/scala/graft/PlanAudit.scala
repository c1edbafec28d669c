package graft

/** Diagnostic main: the registry-wide PLAN-SHAPE inventory — for every
  * declared query, the physical-plan facts a scale review asks first:
  * how many scans, how many exchanges (and of what kind), which join
  * strategies, how many whole-stage codegen spans. Emitted as one
  * markdown table (PLAN_AUDIT.md) so a reviewer can sweep 160+ plans
  * for smells — an unexpected second scan, a sort-merge join where a
  * broadcast was intended, a missing codegen span — without running
  * `.explain` by hand per query.
  *
  * Plans are built (analyzed/optimized/planned), not executed; shapes
  * come from the pre-AQE physical plan, which is the plan the cost
  * argument is about (AQE then only improves it at runtime).
  *
  *   sbt "runMain graft.PlanAudit /root/testdata/sf0.001 PLAN_AUDIT.md"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outPath = if (args.length > 1) args(1) else "PLAN_AUDIT.md"
    // AQE off for the audit: with it on, the un-executed plan is an
    // AdaptiveSparkPlan whose codegen wrapping hasn't been applied
    // yet, so span counts would read as zero everywhere
    val spark = graft.engine.GraftSession.getOrCreate("graft-plan-audit",
      Map("spark.sql.adaptive.enabled" -> "false"))
    def count(p: String, needle: String): Int =
      needle.r.findAllIn(p).size
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      try {
        val p = fn(spark, sfDir).queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        val scans = count(p, "Scan parquet") + count(p, "Scan csv") +
          count(p, "Scan json") + count(p, "Scan orc") +
          count(p, "Scan ExistingRDD") + count(p, "LocalTableScan")
        val exH = count(p, "Exchange hashpartitioning")
        val exR = count(p, "Exchange rangepartitioning")
        val exS = count(p, "Exchange SinglePartition") +
          count(p, "Exchange RoundRobinPartitioning")
        val bhj = count(p, "BroadcastHashJoin")
        val smj = count(p, "SortMergeJoin")
        val bnl = count(p, "BroadcastNestedLoopJoin")
        val wsc = count(p, """\*\(\d+\)""")
        val codegenSpans = count(p, "WholeStageCodegen") max
          // fall back to star-span ids when the plan renders compactly
          (if (wsc > 0) p.linesIterator
            .flatMap("""\*\((\d+)\)""".r.findAllMatchIn(_))
            .map(_.group(1).toInt).toSet.size
           else 0)
        f"| $name | $scans | $exH | $exR | $exS | $bhj | $smj | $bnl | $codegenSpans |"
      } catch {
        case e: Throwable =>
          s"| $name | — construction failed: " +
            s"${Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(1).mkString.take(60)} | | | | | | | |"
      }
    }
    val header =
      s"""# PLAN AUDIT — registry plan shapes at ${sfDir.split('/').last}
         |
         |Regenerated by `graft.PlanAudit` (plans BUILT, not executed; pre-AQE
         |physical plan). Columns: parquet/csv/json/orc/local scans, hash /
         |range / single-or-roundrobin exchanges, broadcast-hash /
         |sort-merge / broadcast-nested-loop joins, whole-stage codegen spans.
         |
         |Reading notes: BNLJ counts here are broadcast-SCALAR cross joins
         |(a 1-row bounds/total frame joined onto the data — e.g. drift_psi's
         |two broadcast singletons), not data-sized nested loops; scan and
         |exchange counts are PRE-AQE, so multi-audit queries (ann_recall)
         |overstate runtime work — AQE reuses the shared subtrees as
         |ReusedExchange at execution. drift_report's zero codegen is a pure
         |LocalTableScan of driver-computed schema metadata.
         |
         || query | scans | exH | exR | exS | BHJ | SMJ | BNLJ | codegen |
         ||---|---|---|---|---|---|---|---|---|
         |""".stripMargin
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      header + rows.mkString("\n") + "\n")
    println(s"[planaudit] wrote $outPath (${rows.length} queries)")
    spark.stop()
  }
}
