package graft

/** Benchmark main (driver contract): runs every declared query on
  * SPARK_GRAFT_SF_DIR in the [[graft.engine.GraftSession]] session,
  * prints ONE JSON line.
  *
  * Each query is forced through the `noop` datasource write — unlike
  * `.count()`, which lets Catalyst prune every column and skip the actual
  * work, noop evaluates the full result rows, so timings reflect real
  * operator cost.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.GraftSession.getOrCreate("graft-bench")
    // size the shuffle width to the corpus (inert at the test SFs, where
    // the derived width equals the core-count default; the lever a x100
    // corpus needs without an operator knowing to set it)
    graft.engine.Partitioning.autoTune(spark, sfDir)
    // JIT + shuffle-machinery warmup so per-query numbers measure the
    // queries, not first-use costs (the engine's functions are already
    // bound: the session's GraftExtensions inject them)
    SparkEntry.queries.get("q1_agg").foreach { fn =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
    }
    // diagnostics: SPARK_GRAFT_ONLY=q1,q2 restricts the run
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // best-of-N (default 2), reps INTERLEAVED across full passes over the
    // query list rather than run back-to-back: round 4's driver bench
    // recorded dedup_simhash at 12.2s where 5 standalone reps measure
    // 1.2s — a sustained machine-contention burst poisons BOTH
    // back-to-back reps of whichever query it lands on, while with
    // interleaving the burst has to span the entire suite to survive the
    // min. Default is min-of-3: the r6 official one-shot landed 1.66x
    // above the same session's interleaved detail purely from box
    // contention — two passes leave each query only one chance to dodge
    // a burst, three make the recorded number reproducible (r7 gate:
    // official line within ~15% of the detail artifact).
    val reps = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt).getOrElse(3)
    def repsFor(name: String): Int =
      if (name.startsWith("dedup_")) math.max(reps, 3) else reps
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val best = scala.collection.mutable.Map.empty[String, Double]
    val anyOk = scala.collection.mutable.Set.empty[String]
    val maxPasses = selected.map { case (n, _) => repsFor(n) }
      .foldLeft(0)(math.max)
    for (pass <- 0 until maxPasses; (name, fn) <- selected
         if pass < repsFor(name)) {
      val t0 = System.nanoTime()
      // withCheckpointScope: dead operator-internal localCheckpoint
      // blocks (Dedup, Ann, Graph, Curation, Maintenance) are reclaimed
      // as the rep completes — engine behavior now
      // (graft.engine.CheckpointScope), not a harness courtesy; each
      // rep rebuilds its query from scratch, so the reap can never
      // invalidate a future read.
      val ok =
        try {
          graft.engine.CheckpointScope.withCheckpointScope(spark) {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          }
          true
        } catch { case e: Throwable =>
          if (!failed.contains(name)) {
            failed += name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          }
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // min over SUCCESSFUL reps — a fast failure must not report as the
      // query's time; an always-failing query keeps its (failed) timing
      if (ok) {
        if (!anyOk.contains(name)) { anyOk += name; best(name) = dt }
        else best(name) = math.min(best(name), dt)
      } else if (!anyOk.contains(name))
        best(name) = math.min(best.getOrElse(name, dt), dt)
    }
    val results = selected.map { case (name, _) => name -> best(name) }
    val fj = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // The driver keeps only the LAST 2000 chars of sbt output and parses
    // the JSON line out of that tail. Full-precision values for ~90
    // queries overflow it (rounds 1-3 all recorded "parsed": null), so
    // the printed line is compacted: centisecond precision, trailing
    // zeros stripped, sf as basename. Full nanosecond-precision timings
    // go to target/bench_detail.json for local analysis.
    val sfName = sfDir.split('/').last
    val line = renderLine(results, sfName, failed.toSeq)
    val detail = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    try {
      val p = java.nio.file.Paths.get("target/bench_detail.json")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p,
        s"""{"total":$total,"queries":$detail,"failed":$fj,"sf":"$sfDir"}"""
          .getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    println(line)
    spark.stop()
  }

  /** Centisecond-precision JSON number with trailing zeros stripped
    * ("0.40"→"0.4", "1.00"→"1") — every byte of the printed line counts
    * against the driver's 2000-char output tail.
    */
  def fmt(v: Double): String = {
    val s = f"$v%.2f"
    if (!s.contains('.')) s
    else s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse
  }

  /** The one JSON line Bench would print for the given per-query timings —
    * exposed so a spec can pin its length under the driver's tail budget.
    *
    * If the full per-query map would overflow the budget (the driver
    * keeps only the LAST ~2000 chars of output), the SLOWEST queries are
    * kept verbatim — those carry the performance signal — and the
    * fastest remainder is folded into one "_other" entry whose value is
    * their sum, so "value" still equals the sum of the map. Two classes
    * are PROTECTED from folding — the top [[ProtectTopN]] by time and
    * every query at or above [[ProtectFloorSec]] — so the driver
    * artifact always carries the queries a perf reviewer needs, at any
    * suite size (only a pathological overflow may fold into them, since
    * an unparseable tail is worse than a folded one). Full per-query
    * precision always lands in target/bench_detail.json.
    */
  val LineBudget = 1900
  val ProtectTopN = 30
  val ProtectFloorSec = 0.5

  def renderLine(results: Seq[(String, Double)], sfName: String,
                 failed: Seq[String] = Nil): String = {
    def failedJson(fs: Seq[String], dropped: Int): String =
      (fs.map("\"" + _ + "\"") ++
        (if (dropped > 0) Seq("\"+" + dropped + " more\"") else Nil))
        .mkString("[", ",", "]")
    def render(rs: Seq[(String, Double)], fj: String): String = {
      val qs = rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(results.map(_._2).sum)},"unit":"sec","queries":$qs,"failed":$fj,"sf":"$sfName"}"""
    }
    def foldQueries(fj: String): String = {
      val full = render(results, fj)
      if (full.length <= LineBudget) full
      else {
        val byTime = results.sortBy { case (n, v) => (-v, n) }
        val protectedNames = (byTime.take(ProtectTopN).map(_._1) ++
          results.filter(_._2 >= ProtectFloorSec).map(_._1)).toSet
        // fold fastest-first (stable: name tiebreak), unprotected before
        // protected — protected entries fold only if the line cannot
        // otherwise fit at all
        val bySpeed = results.sortBy { case (n, v) => (v, n) }
        val foldOrder = bySpeed.filterNot(r => protectedNames(r._1)) ++
          bySpeed.filter(r => protectedNames(r._1))
        val keep = scala.collection.mutable.Map(results.toMap.toSeq: _*)
        var other = 0.0
        var it = 0
        var line = full
        while (line.length > LineBudget && it < foldOrder.length) {
          val (n, v) = foldOrder(it)
          keep.remove(n); other += v; it += 1
          line = render(results.filter(r => keep.contains(r._1)) :+
            ("_other" -> other), fj)
        }
        line
      }
    }
    // the failed list is budgeted too: a sweeping failure (every query
    // failed) must still produce a parseable tail, so names fold into a
    // "+N more" marker once the fully-query-folded line overflows
    var fs = failed
    var dropped = 0
    var line = foldQueries(failedJson(fs, dropped))
    while (line.length > LineBudget && fs.nonEmpty) {
      fs = fs.dropRight(1); dropped += 1
      line = foldQueries(failedJson(fs, dropped))
    }
    line
  }
}
