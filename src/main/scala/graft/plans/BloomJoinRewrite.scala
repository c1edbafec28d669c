package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo,
  IsNotNull, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join,
  LogicalPlan, Window}
import graft.operators.RuntimeFilter

/** Automatic sideways information passing: the plan rewrite that
  * injects [[RuntimeFilter]]'s portable Bloom device into a plain star
  * join — `fact JOIN dim ON k WHERE dim.selective` — without any query
  * change. The explicit `bloom_join` operator is the engine-portable
  * formulation a user writes by hand; this rewrite plants the same
  * fact-side pre-filter in a plan that never mentions it, the way
  * warehouse optimizers (and Spark's own builtin `InjectRuntimeFilter`,
  * which this deliberately does not duplicate — ours is the
  * md5/SQL-mirrorable family, so a rewritten plan stays
  * oracle-checkable) plant runtime filters.
  *
  * It is not installed in any session: a caller applies it to the
  * optimized plan of its own query and runs the result
  * ([[RuntimeFilter.bloomJoinAuto]]), so no other statement on the
  * session is rewritten. The rewrite adds k broadcast probes per fact
  * row, a plan-shape decision the caller makes knowingly.
  *
  * Fires only when ALL of:
  *  - the join is Inner (either side may be the fact) or LeftSemi (the
  *    left is — a Bloom pass on the preserved side only ever removes
  *    rows the join would drop anyway, so both types are sound);
  *  - both sides are scan chains (no Join / Aggregate / Window below:
  *    the rewrite targets the bottom-most star join, and — since the
  *    rewritten fact side CONTAINS joins — a second application leaves
  *    the rewritten plan unchanged);
  *  - the dim side carries a real predicate (something beyond the
  *    IsNotNull conjuncts the optimizer plants on every join key);
  *  - the fact side's estimated size is >= `MinSizeRatio` (2) x the dim
  *    side's (logical stats; without CBO a Filter reports its child's
  *    size, so the ratio understates true selectivity — conservative in
  *    the right direction);
  *  - the equi-pair keys are unambiguous by name on their sides (the
  *    probe DataFrames resolve by name) and the fact side has no
  *    `_pos*`/`_hit*` columns that would collide with probe scratch.
  *
  * The injected subtree is built by the SAME [[RuntimeFilter]] code the
  * explicit operator uses (bloomBuild word table + k broadcast probe
  * joins), spliced via Dataset round-trip: correctness is therefore the
  * explicit operator's proven no-false-negatives contract, and the
  * rewritten query's output is bit-identical to the original (PlansSpec
  * asserts both the fired plan and result equality).
  */
object BloomJoinRewrite extends PredicateHelper {

  private val MinSizeRatio = BigDecimal(2)

  /** Scan chain = the plan shapes a fact/dim side of a bottom-most star
    * join has (scans, filters, projects). Anything blocking (join, agg,
    * window) disqualifies — and marks our own rewritten output.
    */
  private def scanChain(p: LogicalPlan): Boolean = !p.exists {
    case _: Join | _: Aggregate | _: Window => true
    case _ => false
  }

  /** A predicate beyond the IsNotNull noise — evidence the dim side is
    * actually selective (without CBO there is no selectivity estimate,
    * so presence-of-predicate is the honest signal available).
    */
  private def selective(p: LogicalPlan): Boolean = p.exists {
    case Filter(c, _) => splitConjunctivePredicates(c).exists {
      case _: IsNotNull => false
      case _ => true
    }
    case _ => false
  }

  private def nameOk(side: LogicalPlan, key: AttributeReference): Boolean =
    side.output.count(_.name == key.name) == 1

  private def scratchFree(fact: LogicalPlan): Boolean =
    !fact.output.exists(a => a.name.startsWith("_pos") ||
      a.name.startsWith("_hit") || a.name.startsWith("_w"))

  /** Replace `fact` with the Bloom-probed equivalent, using the word
    * table built from `dim`'s keys. Output attributes (ids and order)
    * are preserved, so the surrounding join resolves unchanged.
    */
  private def probed(s: SparkSession,
                     fact: LogicalPlan, factKey: AttributeReference,
                     dim: LogicalPlan, dimKey: AttributeReference)
      : LogicalPlan = {
    val dimKeys = GraftSqlBridge.ofRows(s, dim).select(dimKey.name)
    val words = RuntimeFilter.bloomBuild(dimKeys, dimKey.name)
    val spliced = RuntimeFilter.bloomMightContain(
      GraftSqlBridge.ofRows(s, fact), factKey.name, words)
      .queryExecution.analyzed
    // the probe `broadcast()` marks arrive as ResolvedHint nodes, but
    // the rewrite runs on an optimized plan, whose hint-elimination
    // batch already ran — fold them into the probe joins' JoinHint
    // ourselves, or the physical planner rejects the plan
    org.apache.spark.sql.catalyst.optimizer.EliminateResolvedHint(spliced)
  }

  /** `plan` with every qualifying star join's fact side Bloom-probed
    * (unchanged when none qualifies). `plan` is an optimized plan:
    * the matcher reads its pushed-down filters and pruned columns.
    */
  def apply(s: SparkSession, plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case j @ Join(l, r, jt, Some(cond), _)
          if (jt == Inner || jt == LeftSemi) &&
            scanChain(l) && scanChain(r) =>
        val pair = splitConjunctivePredicates(cond).collectFirst {
          case EqualTo(a: AttributeReference, b: AttributeReference)
              if l.outputSet.contains(a) && r.outputSet.contains(b) =>
            (a, b)
          case EqualTo(a: AttributeReference, b: AttributeReference)
              if l.outputSet.contains(b) && r.outputSet.contains(a) =>
            (b, a)
        }
        pair match {
          case Some((lk, rk)) =>
            val (ls, rs) =
              (BigDecimal(l.stats.sizeInBytes), BigDecimal(r.stats.sizeInBytes))
            if (selective(r) && !selective(l) && ls >= MinSizeRatio * rs &&
                nameOk(l, lk) && nameOk(r, rk) && scratchFree(l))
              j.copy(left = probed(s, l, lk, r, rk))
            else if (jt == Inner && selective(l) && !selective(r) &&
                rs >= MinSizeRatio * ls && nameOk(r, rk) && nameOk(l, lk) &&
                scratchFree(r))
              j.copy(right = probed(s, r, rk, l, lk))
            else j
          case None => j
        }
    }
}
