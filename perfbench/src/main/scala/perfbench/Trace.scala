package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Wall clock in epoch microseconds with nanoTime resolution, so harness
  * spans and Spark listener timestamps (epoch ms) share one axis.
  */
object Clock {
  private val baseNanos = System.nanoTime()
  private val baseMicros = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseMicros + (System.nanoTime() - baseNanos) / 1000L
}

/** One timed interval at a layer boundary. `query` groups the spans of one
  * request or pipeline run; `parent` is the span that caused this one (0 for
  * a root).
  */
final case class Span(id: Long, parent: Long, name: String, query: String,
                      startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span store; written out once when the run ends. When disabled
  * it still times the body (the harness needs durations either way) but
  * keeps nothing.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  /** Run `body` inside a span; returns its result and the span. */
  def span[T](name: String, parent: Long, query: String, id: Long = 0L)(
      body: => T): (T, Span) = {
    val sid = if (id != 0L) id else nextId()
    val t0 = Clock.nowUs
    val out = body
    val s = Span(sid, parent, name, query, t0, Clock.nowUs)
    if (enabled) spans.add(s)
    (out, s)
  }

  def add(s: Span): Unit = if (enabled) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span name: each span's duration minus the part of it
    * that its children cover.
    */
  def selfTimes(ss: Seq[Span] = all): Map[String, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = Stats.unionLength(kids.getOrElse(s.id, Nil).map(k =>
          (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs))))
        (s.durUs - covered) / 1e6
      }.sum
    }
  }
}

/** What one finished task reports. */
final case class TaskRec(launchMs: Long, durMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleWriteBytes: Long, shuffleReadBytes: Long,
                         spillBytes: Long, inputBytes: Long,
                         inputRecords: Long)

final class StageRec(val id: Int, val jobId: Int) {
  @volatile var submitMs: Long = -1L
  @volatile var endMs: Long = -1L
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
}

final class JobRec(val id: Int, val group: String, val submitMs: Long) {
  @volatile var endMs: Long = -1L
}

/** Listener that files every job, stage and task under the job group that
  * submitted it. Attribution is by job group, never by time window, so
  * concurrent queries never cross-count.
  */
final class JobLog extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  private val lastEventNs = new AtomicLong(System.nanoTime())

  private def touch(): Unit = lastEventNs.set(System.nanoTime())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, new JobRec(e.jobId, group, e.time))
    e.stageIds.foreach(sid => stages.putIfAbsent(sid, new StageRec(sid, e.jobId)))
    touch()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val rec = stages.computeIfAbsent(e.stageInfo.stageId,
      sid => new StageRec(sid, -1))
    rec.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    Option(stages.get(e.stageInfo.stageId)).foreach(_.endMs =
      e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
    touch()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) {
      val rec = stages.computeIfAbsent(e.stageId, sid => new StageRec(sid, -1))
      rec.tasks.add(TaskRec(i.launchTime, i.finishTime - i.launchTime,
        m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
    }
    touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    touch()
  }

  /** Block until every job seen so far has ended and no event has arrived
    * for `quietMs`. An action posts its JobEnd before it returns, so once
    * the bus has gone quiet every job of a finished query is on file.
    */
  def awaitQuiet(quietMs: Long = 150L, maxMs: Long = 10000L): Boolean = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    def quiet = (System.nanoTime() - lastEventNs.get()) > quietMs * 1000000L &&
      jobs.values.asScala.forall(_.endMs >= 0)
    while (!quiet && System.nanoTime() < deadline) Thread.sleep(10)
    quiet
  }

  def jobsOf(group: String => Boolean): Seq[JobRec] =
    jobs.values.asScala.filter(j => group(j.group)).toSeq.sortBy(_.id)

  def stagesOf(js: Seq[JobRec]): Seq[StageRec] = {
    val ids = js.map(_.id).toSet
    stages.values.asScala.filter(s => ids.contains(s.jobId) && !s.tasks.isEmpty)
      .toSeq.sortBy(_.id)
  }

  /** Spark-side spans for the given jobs: `spark.job` under `parent`, and
    * `spark.stage` under its job.
    */
  def spans(js: Seq[JobRec], parent: Long, query: String,
            tracer: Tracer): Unit = for (j <- js) {
    val jid = tracer.nextId()
    tracer.add(Span(jid, parent, "spark.job", query, j.submitMs * 1000L,
      math.max(j.endMs, j.submitMs) * 1000L))
    for (s <- stagesOf(Seq(j)) if s.submitMs >= 0) {
      val end = math.max(s.endMs, s.submitMs)
      tracer.add(Span(tracer.nextId(), jid, "spark.stage", query,
        s.submitMs * 1000L, end * 1000L))
    }
  }
}
