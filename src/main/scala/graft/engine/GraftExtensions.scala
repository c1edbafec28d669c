package graft.engine

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.functions.GraftFunctions

/** SparkSessionExtensions entry point — the engine's functions become
  * available to ANY session configured with
  * `spark.sql.extensions=graft.engine.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`), the standard injection
  * mechanism for operator/function extensions (SURVEY.md §2.2: the
  * reference's extensibility point is a Rust trait registry; ours is
  * this). The functions come from `GraftFunctions.Table`, the table
  * `GraftFunctions.register` also reads, so both seams expose the same
  * surface.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.Table.foreach { f =>
      e.injectFunction((FunctionIdentifier(f.name), f.info, f.build))
    }
    // custom physical operator (LogicalPlan -> Strategy -> SparkPlan):
    // sessions without extensions get it lazily via
    // TopKPlans.ensureStrategy
    e.injectPlannerStrategy(_ => graft.plans.GroupedTopKStrategy)
    // optimizer rule (opt-in via spark.graft.rewriteRankLimit): rank-
    // filter windows with an unused rank column become GroupedTopK
    e.injectOptimizerRule(_ => graft.plans.RankLimitRewrite)
    // optimizer rule (opt-in via spark.graft.rewriteBloomJoin): plain
    // star joins get the portable Bloom fact-side pre-filter injected
    e.injectOptimizerRule(_ => graft.plans.BloomJoinRewrite)
    // optimizer rule (opt-in via spark.graft.rewriteWindowAuto): the
    // canonical window-class SELECT entering as plain SQL gets the
    // profile-dispatched chunked rewrite above the hot-key threshold.
    // Routed through extraOptimizations (the LAST optimizer batch)
    // rather than the operator-optimization FIXED POINT this injection
    // seam feeds: the rule runs a plan-time profile job and splices an
    // already-OPTIMIZED subtree, so in the fixed point it would re-pay
    // the profile job per batch iteration and have its splice
    // re-optimized — the cost model documented at the splice site
    // holds only for the last batch. The builder runs once per session
    // at optimizer construction, making this the extension-path twin
    // of WindowAutoRewrite.ensureRule; the rule handed back to the
    // fixed point is an inert shim.
    e.injectOptimizerRule { session =>
      graft.plans.WindowAutoRewrite.ensureRule(session)
      graft.plans.WindowAutoRewrite.Registered
    }
  }
}
