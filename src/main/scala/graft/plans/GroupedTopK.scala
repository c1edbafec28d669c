package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression,
  SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Grouped top-k as a first-class operator — the custom
  * LogicalPlan -> Strategy -> SparkPlan demonstration (SURVEY.md §4.3
  * class (c)): Spark's built-in answer to "top k rows per key" is
  * `row_number() OVER (PARTITION BY key ORDER BY ord) <= k`, which
  * SORTS EVERY ROW of every partition before discarding all but k —
  * at 100 TB that is a full shuffle + full sort for a result that is
  * k * |keys| rows. This operator keeps a bounded k-row heap per key
  * instead: a partial pass reduces each input partition to <= k rows
  * per key at scan speed (no sort), the planner's required
  * distribution inserts the one key shuffle over the ALREADY-REDUCED
  * stream, and a final pass merges the per-partition survivors. Wall
  * cost is O(n log k) compute with a shuffle of O(k * |keys| *
  * partitions) rows — vs O(n log n) + O(n) shuffle for the window.
  *
  * The reference has no physical operators beyond scan/filter/
  * project/sort (SURVEY.md §2.1); this is the extension-point class
  * its `OperatorTaskRegistry` gestures at, realized through Spark's
  * actual seams: logical node + strategy (injectable via
  * `GraftExtensions` or `spark.experimental.extraStrategies`) +
  * physical `UnaryExecNode`.
  *
  * Relation to Spark's own optimization: Spark 3.5+ rewrites
  * rank-filter windows through `WindowGroupLimit`, which prunes each
  * group to k rows — but its physical plan (verified on this repo's
  * `window_rank`) still plants a full per-partition `Sort` BELOW both
  * the Partial and Final group-limit passes, because the limiter
  * walks sorted runs. The heap here needs no sorted input at all, so
  * the O(n log n) sorts disappear, not just the window buffering.
  *
  * Memory contract (the tradeoff for skipping the sort): each task
  * holds up to k rows per DISTINCT KEY IN THAT TASK on heap, with no
  * spill path — right for the dimensional group keys top-k is run on
  * (priority, language, segment: thousands of keys), wrong for
  * near-unique keys (user_id at k=100), where k*|keys| approaches the
  * input and the spilling sort-based window is the correct plan. The
  * operator is a deliberate specialization, not a universal
  * replacement — and the contract is ENFORCED, not just documented:
  * each task counts its distinct keys and fails fast past
  * `maxKeysPerTask` (default [[TopKPlans.MaxKeysPerTask]]) with a
  * pointer at the window formulation, the same honest-contract
  * treatment dedupClusters gives non-convergence. Silent degradation
  * here would be an executor OOM with no actionable message.
  */
case class GroupedTopK(groupExprs: Seq[Expression], order: Seq[SortOrder],
                       k: Int, child: LogicalPlan,
                       maxKeysPerTask: Int = TopKPlans.MaxKeysPerTask)
    extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  require(groupExprs.nonEmpty,
    "grouped top-k needs group keys; for global top-k use orderBy().limit()" +
      " (TakeOrderedAndProject already has the bounded-heap plan)")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(c: LogicalPlan): GroupedTopK =
    copy(child = c)
}

/** Plans [[GroupedTopK]] as partial-reduce -> (exchange) -> final-merge;
  * the exchange appears because the final node DEMANDS clustering on
  * the group keys while the partial node accepts any distribution —
  * exactly how partial aggregation gets its shuffle.
  */
object GroupedTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GroupedTopK(g, o, k, child, maxKeys) =>
      // normalize float group keys (NaN bit patterns, -0.0 in nested
      // fields) exactly like Window partition specs get normalized —
      // without this, distinct NaN encodings would hash to different
      // groups/partitions and the operator would diverge from the
      // row_number formulation it must match
      val gn = g.map(org.apache.spark.sql.GraftSqlBridge.normalizeFloats)
      GroupedTopKExec(gn, o, k, partial = false,
        GroupedTopKExec(gn, o, k, partial = true, planLater(child), maxKeys),
        maxKeys) :: Nil
    case _ => Nil
  }
}

case class GroupedTopKExec(groupExprs: Seq[Expression],
                           order: Seq[SortOrder], k: Int, partial: Boolean,
                           child: SparkPlan, maxKeysPerTask: Int)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def nodeName: String =
    if (partial) "GroupedTopKPartial" else "GroupedTopKFinal"
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil
  override def outputPartitioning = child.outputPartitioning

  protected override def doExecute(): RDD[InternalRow] = {
    // capture only serializable expression trees; the projection and
    // generated ordering are built per-task inside the closure
    val (gExprs, ord, childOut, kk, maxKeys) =
      (groupExprs, order, child.output, k, maxKeysPerTask)
    child.execute().mapPartitions { iter =>
      val groupProj = UnsafeProjection.create(gExprs, childOut)
      val ordering = new LazilyGeneratedOrdering(ord, childOut)
      val heaps = new java.util.HashMap[UnsafeRow,
        java.util.PriorityQueue[InternalRow]]()
      // max-heap on the sort order: the head is the WORST row kept, so
      // a better candidate evicts it in O(log k)
      val reverse = ordering.reverse
      iter.foreach { row =>
        val key = groupProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          // the enforced memory contract: distinct keys per task are
          // bounded, or this is the wrong operator for the data
          if (heaps.size() >= maxKeys)
            throw new IllegalStateException(
              s"GroupedTopK: task exceeded $maxKeys distinct group keys; " +
                "near-unique keys break the bounded-heap memory contract " +
                "- use the sort-based window (row_number() OVER " +
                "(PARTITION BY key ORDER BY ord) <= k), which spills")
          // start small and let the queue grow: an eager k+1 capacity
          // would allocate O(k) slots for every group even when groups
          // hold a handful of rows (k is a bound, not a size hint)
          heap = new java.util.PriorityQueue[InternalRow](
            math.min(kk, 16) + 1, reverse)
          heaps.put(key.copy(), heap)
        }
        if (heap.size < kk) heap.add(row.copy())
        else if (ordering.compare(row, heap.peek()) < 0) {
          heap.poll(); heap.add(row.copy())
        }
      }
      import scala.jdk.CollectionConverters._
      heaps.values().iterator().asScala.flatMap(_.iterator().asScala)
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): GroupedTopKExec =
    copy(child = c)
}

/** DataFrame-level entry: `TopKPlans.groupedTopK(df, keys, orders, k)`.
  * Installs the strategy into the session's experimental strategies
  * when its planner lacks it (a bare session; `GraftExtensions` already
  * injects it), so it works on any session — no extensions
  * configuration required.
  */
object TopKPlans {
  /** Per-task distinct-key ceiling — the enforced edge of the bounded-
    * heap memory contract (see the [[GroupedTopK]] scaladoc).
    */
  val MaxKeysPerTask = 1000000

  def ensureStrategy(s: SparkSession): Unit =
    if (!s.sessionState.planner.strategies.contains(GroupedTopKStrategy))
      s.experimental.extraStrategies :+= GroupedTopKStrategy

  def groupedTopK(df: DataFrame, keys: Seq[Column], orders: Seq[Column],
                  k: Int, maxKeysPerTask: Int = MaxKeysPerTask): DataFrame = {
    val session = df.sparkSession
    ensureStrategy(session)
    import org.apache.spark.sql.GraftSqlBridge.expression
    val sortOrders = orders.map(c => expression(c) match {
      case so: SortOrder => so
      case e => SortOrder(e, org.apache.spark.sql.catalyst.expressions.Ascending)
    })
    GraftSqlBridge.ofRows(session,
      GroupedTopK(keys.map(expression), sortOrders, k,
        df.queryExecution.analyzed, maxKeysPerTask))
  }
}
