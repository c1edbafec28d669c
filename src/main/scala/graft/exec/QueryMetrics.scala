package graft.exec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}

/** Per-query execution COST introspection for the serving posture — the
  * operational answer to "what did that query read/shuffle/emit" that a
  * paging client gets nowhere else (the reference reports nothing but
  * status; its TUI shows rows only). Metrics come from Spark's own
  * per-operator `SQLMetric` accumulators on the EXECUTED plan, read
  * after evaluation — task updates merge into the driver's originals at
  * task completion, so the totals are exact, not sampled.
  *
  * [[profile]] evaluates the frame's OWN plan (`toRdd.foreach`, full
  * evaluation with no driver collect and no plan-changing wrapper like
  * `count()`'s column pruning or a write command node) and summarizes
  * the filled metrics; [[summarize]] reads any already-executed
  * QueryExecution — including through AQE's final stages.
  */
object QueryMetrics {

  /** Aggregated operator-class totals of one execution — a handful of
    * driver-side longs, never per-task data.
    */
  final case class Summary(durationMs: Long, scanRows: Long,
                           filesRead: Long,
                           shuffleRecordsWritten: Long,
                           shuffleBytesWritten: Long)

  /** One auto-window dispatch decision — the audit trail for an
    * operator that silently picks physical plans: which branch fired
    * (`chunked`) and the profiled signals it acted on (the hot key's
    * `share`, its `hotRows` and the frame's `totalRows`, all read from
    * the data being dispatched). At 100 TB "why did this query chunk"
    * must be answerable after the fact.
    */
  final case class WindowDispatch(key: String, share: Double,
                                  hotRows: Long, totalRows: Long,
                                  chunked: Boolean)

  private val MaxDispatches = 256
  private val dispatches =
    new java.util.concurrent.ConcurrentLinkedDeque[WindowDispatch]
  private val dispatchCount = new java.util.concurrent.atomic.AtomicInteger

  /** Record one dispatch decision (bounded ring: the newest
    * [[MaxDispatches]] survive — driver-side audit, not telemetry).
    * The bound is tracked with an AtomicInteger rather than
    * `ConcurrentLinkedDeque.size()`, which is O(n) per call and made
    * every record on the dispatch path pay a full traversal (the r20
    * ADVICE item); the counter keeps record O(1) and the ring bound
    * exact under the same one-in-one-out discipline.
    */
  def recordDispatch(d: WindowDispatch): Unit = {
    dispatches.addLast(d)
    if (dispatchCount.incrementAndGet() > MaxDispatches) {
      dispatches.pollFirst()
      dispatchCount.decrementAndGet()
    }
  }

  /** The recorded dispatch decisions, oldest first. */
  def recentDispatches: Seq[WindowDispatch] = {
    val b = Seq.newBuilder[WindowDispatch]
    dispatches.forEach(d => b += d)
    b.result()
  }

  /** Forget every recorded decision. Each removal decrements the ring
    * counter, so the bound stays exact for the records that follow.
    */
  def clearDispatches(): Unit =
    while (dispatches.pollFirst() != null) dispatchCount.decrementAndGet()

  private def collectPlans(p: SparkPlan): Seq[SparkPlan] = p match {
    // AQE hides executed stages behind adaptive nodes; walk through to
    // the real operators (a query stage is a leaf whose `plan` holds
    // the stage's subtree)
    case a: AdaptiveSparkPlanExec => collectPlans(a.executedPlan)
    case s: QueryStageExec => s +: collectPlans(s.plan)
    case other => other +: other.children.flatMap(collectPlans)
  }

  /** Summarize one finished execution from its plan's metric values. */
  def summarize(qe: QueryExecution, durationNs: Long): Summary = {
    val nodes = collectPlans(qe.executedPlan)
    def total(pred: SparkPlan => Boolean, metric: String): Long =
      nodes.filter(pred).flatMap(_.metrics.get(metric))
        .map(_.value).filter(_ > 0).sum
    val isScan = (p: SparkPlan) =>
      p.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]
    val isShuffle = (p: SparkPlan) => p.isInstanceOf[
      org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]
    Summary(
      durationMs = durationNs / 1000000L,
      scanRows = total(isScan, "numOutputRows"),
      filesRead = total(isScan, "numFiles"),
      shuffleRecordsWritten = total(isShuffle, "shuffleRecordsWritten"),
      shuffleBytesWritten = total(isShuffle, "shuffleBytesWritten"))
  }

  /** Fully evaluate `df`'s plan and return its cost summary. */
  def profile(df: DataFrame): Summary = {
    val t0 = System.nanoTime()
    df.queryExecution.toRdd.foreach(_ => ())
    summarize(df.queryExecution, System.nanoTime() - t0)
  }
}
