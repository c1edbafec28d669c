package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val log: JobLog,
                val seed: Long, val work: String, val nproc: Int) {
  def rng(salt: Long): java.util.Random = new java.util.Random(seed * 1000003L + salt)
}

/** What a workload's measured window produced. `failed` counts operations
  * that errored, timed out or failed their output check; `wrong` counts the
  * subset that completed with rows differing from the reference.
  */
final case class Outcome(attempted: Int, failed: Int, wrong: Int,
                         e2e: Map[String, Double],
                         layers: Map[String, Double])

trait Workload {
  /** Corpus directory the workload reads (built before the run). */
  def corpus: String
  /** Untimed warm-up pass plus any serving set-up; runs inside setup_s. */
  def setup(ctx: Ctx): Unit
  /** The measured window. */
  def run(ctx: Ctx, seconds: Double): Outcome
  def close(): Unit = ()
}

/** Benchmark entry point. run.py builds the corpora and the classpath, then
  * launches one JVM per run:
  *
  *   perfbench.Main run <workload> <seed> <seconds> <trace 0|1> <work dir>
  *   perfbench.Main prepare <work dir>          (builds the x10 zipf corpus)
  *   perfbench.Main record <work dir> <out.json> (stores batch fingerprints)
  *   perfbench.Main capacity <work dir> <seconds> (closed-loop serve_sql rate)
  *   perfbench.Main selftest <work dir>
  *
  * The result of `run` is one JSON line on stdout; logs go to stderr.
  */
object Main {

  def corpusDir(work: String, name: String): String = s"$work/corpus/$name"

  def workload(name: String, work: String): Workload = name match {
    case "serve_sql" => new Serve(corpusDir(work, "sf0.1"))
    case "batch_x10z" => Batch.x10z(work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def nproc: Int = Runtime.getRuntime.availableProcessors

  /** The one session configuration every workload runs under: the engine's
    * own session factory (with its Catalyst extensions) at local[nproc].
    */
  def session(work: String): SparkSession = {
    val spark = graft.engine.GraftSession.builder("perfbench")
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.local.dir", s"$work/tmp/spark")
      .config("spark.sql.warehouse.dir", s"$work/tmp/warehouse")
      .config("spark.log.level", "WARN")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Per-corpus tuning and function registration, as a deployment does. */
  def configure(spark: SparkSession, corpus: String): Unit = {
    graft.engine.Partitioning.autoTune(spark, corpus)
    graft.functions.GraftFunctions.register(spark)
  }

  def effectiveConfs(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.toSeq
      .filter { case (k, _) =>
        k == "spark.master" || k.startsWith("spark.sql.") ||
          k.startsWith("spark.graft.")
      }
      .sorted :+ ("jvm.maxHeapMb" -> (Runtime.getRuntime.maxMemory >> 20).toString)

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def usedHeapMb(): Double = {
    val m = ManagementFactory.getMemoryMXBean
    m.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Heap still in use after full collections: what the running system
    * keeps between requests.
    */
  def retainedHeapMb(): Double = {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(50) }
    usedHeapMb()
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum / 1e3

  def resetHeapPeaks(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def main(args: Array[String]): Unit = {
    val code =
      try args.headOption match {
        case Some("run") =>
          val Array(_, w, seed, secs, trace, work) = args
          runWorkload(w, seed.toLong, secs.toDouble, trace == "1", work)
        case Some("prepare") => Batch.prepare(args(1)); 0
        case Some("record") => Batch.record(args(1), args(2)); 0
        case Some("capacity") => Serve.capacity(args(1), args(2).toDouble); 0
        case Some("selftest") => SelfTest.run(args(1))
        case _ =>
          log("usage: perfbench.Main run|prepare|record|capacity|selftest ...")
          2
      } catch {
        case e: Throwable =>
          log(s"fatal: $e"); e.printStackTrace(); 1
      }
    System.exit(code)
  }

  def runWorkload(name: String, seed: Long, seconds: Double, trace: Boolean,
                  work: String): Int = {
    val wl = workload(name, work)
    require(new java.io.File(wl.corpus).isDirectory,
      s"corpus ${wl.corpus} missing: run.py builds it before the run")
    val t0 = System.nanoTime()
    val spark = session(work)
    val jobLog = new JobLog
    spark.sparkContext.addSparkListener(jobLog)
    configure(spark, wl.corpus)
    val t1 = System.nanoTime()
    val ctx = new Ctx(spark, new Tracer(trace), jobLog, seed, work, nproc)
    wl.setup(ctx)
    val setupS = (System.nanoTime() - t0) / 1e9
    log(f"setup $setupS%.3f s: session, autoTune and register ${(t1 - t0) / 1e9}%.3f s, " +
      f"warm-up ${(System.nanoTime() - t1) / 1e9}%.3f s")
    effectiveConfs(spark).foreach { case (k, v) => log(s"conf $k=$v") }

    val gc0 = gcSeconds()
    resetHeapPeaks()
    val out = wl.run(ctx, seconds)
    val gcS = gcSeconds() - gc0
    val peak = heapPeakMb()
    wl.close()
    val retained = retainedHeapMb()

    val e2e = out.e2e ++ Map("setup_s" -> setupS, "retained_heap_mb" -> retained)
    val layers = out.layers ++ Map("jvm.gc_s" -> gcS, "jvm.heap_peak_mb" -> peak)
    if (trace) {
      TraceReport.write(s"$work/trace_$name.json", name, seed, ctx.tracer,
        e2e, layers, effectiveConfs(spark))
    }
    val metrics = if (trace) layers else e2e
    println(Json.result(out.wrong == 0, out.attempted, out.failed,
      metrics.toSeq.sortBy(_._1).map { case (k, v) => (k, v, Units.of(k)) }))
    spark.stop()
    0
  }
}

/** Units of every metric the harness reports. */
object Units {
  def of(name: String): String =
    if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_kb")) "kB"
    else if (name.endsWith("_ratio") || name.endsWith("_per_result_row") ||
      name.endsWith("busy_cores")) "ratio"
    else "count"
}

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (k, v, u) =>
      s"${str(k)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}"
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}
