package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch workloads: registry pipelines (`SparkEntry.queries`) run one after
  * another, each forced through the `noop` sink so the full result is
  * computed and nothing is written. A pass runs every pipeline once, in an
  * order drawn from the seed; the window runs whole passes.
  */
final class Batch(val name: String, val corpus: String, pipelines: Seq[String],
                  expected: Map[String, RowHash.Fingerprint]) extends Workload {
  import Batch._

  private val fns = pipelines.map(p => p -> graft.SparkEntry.queries.getOrElse(p,
    throw new IllegalArgumentException(s"no registry query $p")))
  private var resultRows = Map.empty[String, Long]
  private var wrong = Set.empty[String]
  private var mismatched = Set.empty[String]

  /** The untimed warm-up pass, which is also the output check: each
    * pipeline's result fingerprinted (running the whole pipeline, so per-JVM
    * memoized state fills) and compared with the stored fingerprint. A
    * pipeline that fails it counts as failed in every pass of the window.
    */
  def setup(ctx: Ctx): Unit = {
    wrong = fns.flatMap { case (p, fn) =>
      ctx.spark.sparkContext.setJobGroup(s"warmup:$p", "perfbench warm-up")
      val fp =
        try Some(graft.engine.CheckpointScope.withCheckpointScope(ctx.spark)(
          RowHash.fingerprint(fn(ctx.spark, corpus))))
        catch { case e: Throwable => Main.log(s"$name: $p failed: $e"); None }
      ctx.spark.sparkContext.clearJobGroup()
      fp.foreach(f => resultRows += p -> f.rows)
      // with no stored fingerprints at all (a dry run on another corpus)
      // outputs go unchecked; otherwise a pipeline without one fails
      if (fp.isDefined && (expected.isEmpty || expected.get(p).contains(fp.get))) None
      else {
        if (fp.isDefined) mismatched += p
        Main.log(s"$name: $p fingerprint ${fp.orNull} != stored ${expected.get(p).orNull}")
        Some(p)
      }
    }.toSet
  }

  def run(ctx: Ctx, seconds: Double): Outcome = {
    val sc = ctx.spark.sparkContext
    val tr = ctx.tracer
    val rng = ctx.rng(1)
    val runs = Vector.newBuilder[QueryRun]
    val passes = Vector.newBuilder[(Int, Double)]
    val t0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val order = shuffled(fns, rng)
      val passId = tr.nextId()
      val (_, passSpan) = tr.span("pass", 0L, s"pass$pass", passId) {
        for ((p, fn) <- order) runs += runOne(ctx, pass, passId, p, fn)
      }
      passes += pass -> passSpan.durUs / 1e6
      pass += 1
    }
    sc.clearJobGroup()
    ctx.log.awaitQuiet()
    // a pipeline whose output failed the check counts as failed in every pass
    val all = runs.result().map(r => if (wrong(r.pipeline)) r.copy(ok = false) else r)
    val ok = all.filter(_.ok)
    val byPass = all.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2)
    def perPass(f: Seq[QueryRun] => Double): Double = Stats.median(byPass.map(f))
    val e2e =
      if (ok.isEmpty) Map.empty[String, Double]
      else Map(
        "query_p50_s" -> Stats.percentile(ok.map(_.wallS), 0.5),
        "query_geomean_s" -> Stats.geomean(ok.groupBy(_.pipeline).values
          .map(rs => Stats.median(rs.map(_.wallS))).toSeq))
    ok.groupBy(_.pipeline).toSeq.sortBy(_._1).foreach { case (n, rs) =>
      Main.log(f"$name: $n%-24s median ${Stats.median(rs.map(_.wallS))}%.3f s " +
        f"(build ${Stats.median(rs.map(_.buildS))}%.3f s)")
    }
    val passS = passes.result().map(_._2)
    Main.log(f"$name: ${passS.size} passes, pass_s median ${Stats.median(passS)}%.3f " +
      s"(${passS.map(v => f"$v%.3f").mkString(", ")})")

    val layers = if (!tr.enabled) Map.empty[String, Double] else {
      val aggs = all.map { r =>
        val js = ctx.log.jobsOf(_.startsWith(s"pb:${r.spanId}:"))
        ctx.log.spans(ctx.log.jobsOf(_ == s"pb:${r.spanId}:build"), r.buildSpan, r.key, tr)
        ctx.log.spans(ctx.log.jobsOf(_ == s"pb:${r.spanId}:exec"), r.execSpan, r.key, tr)
        r -> SparkAgg.of(ctx.log, js)
      }.toMap
      val buildJobs = all.map(r => r -> ctx.log.jobsOf(_ == s"pb:${r.spanId}:build").size).toMap
      def sumPass(f: QueryRun => Double): Double = perPass(_.map(f).sum)
      val waits = aggs.values.flatMap(_.taskWaitsMs).toSeq
      val scanRows = sumPass(r => aggs(r).scanRows.toDouble)
      val outRows = sumPass(r => resultRows.getOrElse(r.pipeline, 0L).toDouble)
      val passWall = Stats.median(passS)
      Map(
        "plans.optimize_ms" -> sumPass(_.optimizeMs),
        "operators.build_s" -> sumPass(_.buildS),
        "operators.build_jobs" -> sumPass(r => buildJobs(r).toDouble),
        "operators.exec_s" -> sumPass(_.execS),
        "operators.dispatch_chunked" -> sumPass(_.chunked.toDouble),
        "spark.jobs" -> sumPass(r => aggs(r).jobs.toDouble),
        "spark.stages" -> sumPass(r => aggs(r).stages.toDouble),
        "spark.tasks" -> sumPass(r => aggs(r).tasks.toDouble),
        "spark.task_s" -> sumPass(r => aggs(r).taskS),
        "spark.cpu_s" -> sumPass(r => aggs(r).cpuS),
        "spark.busy_cores" -> sumPass(r => aggs(r).taskS) / passWall,
        "spark.straggler_ratio" -> Stats.median(aggs.values.map(_.stragglerRatio).toSeq),
        "spark.shuffle_write_mb" -> sumPass(r => aggs(r).shuffleWriteMb),
        "spark.shuffle_read_mb" -> sumPass(r => aggs(r).shuffleReadMb),
        "spark.spill_mb" -> sumPass(r => aggs(r).spillMb),
        "spark.gc_s" -> sumPass(r => aggs(r).gcS),
        "spark.task_wait_ms" -> (if (waits.isEmpty) 0.0 else Stats.median(waits)),
        "sources.scan_rows" -> scanRows,
        "sources.scan_mb" -> sumPass(r => aggs(r).scanMb),
        "sources.rows_per_result_row" -> scanRows / math.max(outRows, 1.0)
      ) ++ Layers.idle(Layers.ServeOnly)
    }
    Outcome(all.size, all.count(!_.ok), all.count(r => mismatched(r.pipeline)),
      e2e, layers)
  }

  private def runOne(ctx: Ctx, pass: Int, passId: Long, p: String,
                     fn: (SparkSession, String) => DataFrame): QueryRun = {
    val sc = ctx.spark.sparkContext
    val tr = ctx.tracer
    val id = tr.nextId()
    val key = s"$p#$pass"
    graft.exec.QueryMetrics.clearDispatches()
    var build, optimize, exec: Span = null
    val ok =
      try {
        graft.engine.CheckpointScope.withCheckpointScope(ctx.spark) {
          sc.setJobGroup(s"pb:$id:build", key)
          val (df, b) = tr.span("operators.build", id, key)(fn(ctx.spark, corpus))
          build = b
          if (tr.enabled) {
            sc.setJobGroup(s"pb:$id:plan", key)
            optimize = tr.span("plans.optimize", id, key)(df.queryExecution.executedPlan)._2
          }
          sc.setJobGroup(s"pb:$id:exec", key)
          exec = tr.span("operators.exec", id, key)(
            df.write.format("noop").mode("overwrite").save())._2
        }
        true
      } catch {
        case e: Throwable => Main.log(s"$name: $key failed: $e"); false
      }
    val start = Option(build).map(_.startUs).getOrElse(Clock.nowUs)
    val end = Option(exec).orElse(Option(optimize)).orElse(Option(build))
      .map(_.endUs).getOrElse(start)
    tr.add(Span(id, passId, "query", key, start, end))
    val chunked = graft.exec.QueryMetrics.recentDispatches.count(_.chunked)
    QueryRun(p, pass, key, id, Option(build).map(_.id).getOrElse(id),
      Option(exec).map(_.id).getOrElse(id), ok, (end - start) / 1e6,
      Option(build).map(_.durUs / 1e6).getOrElse(0.0),
      Option(optimize).map(_.durUs / 1e3).getOrElse(0.0),
      Option(exec).map(_.durUs / 1e6).getOrElse(0.0), chunked)
  }
}

object Batch {
  final case class QueryRun(pipeline: String, pass: Int, key: String,
                            spanId: Long, buildSpan: Long, execSpan: Long,
                            ok: Boolean, wallS: Double, buildS: Double,
                            optimizeMs: Double, execS: Double, chunked: Int)

  /** Pipelines of `batch_x10z`: a x10 zipf(1.1) copy split over many files,
    * so scans split, shuffles carry real bytes and a hot key exists.
    */
  val X10z: Seq[String] = Seq("q21_suppliers_waiting", "sort_orderby",
    "window_auto")

  val X10Gens = 10
  val ZipfS = 1.1

  def x10z(work: String): Batch = new Batch("batch_x10z",
    Main.corpusDir(work, "x10z"), X10z, Fingerprints.load("batch_x10z"))

  def shuffled[T](xs: Seq[T], rng: java.util.Random): Seq[T] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse if i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** Builds the x10 zipf corpus from the sf0.01 one with the engine's own
    * `ScaleCorpus`; reused when already present.
    */
  def prepare(work: String): Unit = {
    val dst = Main.corpusDir(work, "x10z")
    val done = new java.io.File(dst, "_COMPLETE")
    if (done.exists) { Main.log(s"x10z corpus present at $dst"); return }
    val t0 = System.nanoTime()
    val spark = Main.session(work)
    graft.ScaleCorpus.build(spark, Main.corpusDir(work, "sf0.01"), dst, X10Gens,
      Some(ZipfS))
    spark.stop()
    java.nio.file.Files.write(done.toPath,
      f"${(System.nanoTime() - t0) / 1e9}%.3f\n".getBytes("UTF-8"))
    Main.log(f"x10z corpus built in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  /** Computes the fingerprints of the batch workload on a fresh session
    * and writes them as JSON (the stored reference for later runs).
    */
  def record(work: String, out: String): Unit = {
    val spark = Main.session(work)
    val rows = for (b <- Seq(x10z(work))) yield {
      Main.configure(spark, b.corpus)
      val fps = b.fns.map { case (p, fn) =>
        p -> graft.engine.CheckpointScope.withCheckpointScope(spark)(
          RowHash.fingerprint(fn(spark, b.corpus)))
      }
      b.name -> fps
    }
    Fingerprints.write(out, rows)
    spark.stop()
  }
}

/** Stored reference fingerprints (perfbench/fingerprints.json). */
object Fingerprints {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def file: java.io.File =
    new java.io.File(sys.props.getOrElse("perfbench.fingerprints",
      "perfbench/fingerprints.json"))

  /** Stored fingerprints of one workload; empty when the file is absent. */
  def load(workload: String): Map[String, RowHash.Fingerprint] = {
    if (!file.exists) {
      Main.log(s"$workload: no fingerprint file at $file, outputs unchecked")
      return Map.empty
    }
    val root = mapper.readTree(file)
    Option(root.get(workload)).map { n =>
      n.fields().asScala.map { e =>
        e.getKey -> RowHash.Fingerprint(e.getValue.get("rows").asLong(),
          java.lang.Long.parseUnsignedLong(e.getValue.get("hash").asText(), 16))
      }.toMap
    }.getOrElse(Map.empty)
  }

  def write(out: String, ws: Seq[(String, Seq[(String, RowHash.Fingerprint)])]): Unit = {
    val body = ws.map { case (w, fps) =>
      val entries = fps.sortBy(_._1).map { case (p, f) =>
        s"""    ${Json.str(p)}: {"rows": ${f.rows}, "hash": "${java.lang.Long.toHexString(f.hash)}"}"""
      }.mkString(",\n")
      s"  ${Json.str(w)}: {\n$entries\n  }"
    }.mkString(",\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      s"{\n$body\n}\n".getBytes("UTF-8"))
  }
}

/** Per-layer metrics a workload reports as zero because it never enters
  * that layer: the batch workloads never serve over the wire, and
  * `serve_sql` never calls a registry pipeline.
  */
object Layers {
  val ServeOnly: Seq[String] = Seq("sql.analyze_ms", "exec.materialize_s",
    "exec.commit_ms", "exec.result_files", "exec.empty_result_files",
    "exec.pager_open_ms", "exec.page_ms", "wire.page_rtt_ms",
    "wire.overhead_ms", "wire.page_kb", "wire.status_polls", "wire.status_rtt_ms")
  val BatchOnly: Seq[String] = Seq("operators.build_s", "operators.build_jobs",
    "operators.exec_s", "operators.dispatch_chunked")
  def idle(names: Seq[String]): Map[String, Double] = names.map(_ -> 0.0).toMap
}
