package graft.engine

import org.apache.spark.sql.SparkSession

/** Scoped lifecycle for operator-internal pinned RDDs — the
  * `localCheckpoint` blocks that [[graft.operators.Dedup]],
  * [[graft.operators.Ann]], [[graft.operators.Graph]],
  * [[graft.operators.Curation]] and [[graft.operators.Maintenance]]
  * (`assign_row_ids`) use to pin one materialized frame for several
  * consumers. Those blocks are
  * unreachable once the query's action completes (each invocation
  * rebuilds its plan from scratch), but Spark only reclaims them at
  * the ContextCleaner's periodic GC — far longer than a bench session
  * or an embedding application's query loop, so a long-lived session
  * otherwise accumulates dead storage (the r6 dedup_clusters
  * 2.15→3.0 s drift, re-observed as checkpoint blocks in r17).
  *
  * [[withCheckpointScope]] makes the reclaim ENGINE behavior instead
  * of a harness courtesy: snapshot the persisted-RDD set, run the
  * action, unpersist everything newly pinned. Wrap the CONSUMPTION of
  * a query (the write/collect), never its construction — an eager
  * localCheckpoint's blocks must survive until the plan that reads
  * them has executed. Operator-internal persist/unpersist pairs
  * (DedupStream batches, fit samples) release their own pins inside
  * the scope; the scope only reaps what the query left behind. Not
  * for interleaved workloads that hand a live cached frame OUT of the
  * scope — there the caller owns the lifecycle, which is why this is
  * a scoping helper and not a session-global sweep.
  */
object CheckpointScope {

  def withCheckpointScope[T](s: SparkSession)(body: => T): T = {
    val before = s.sparkContext.getPersistentRDDs.keySet
    try body
    finally s.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before.contains(id) }
      .valuesIterator.foreach(_.unpersist(blocking = false))
  }
}
