package graft.engine

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.functions.GraftFunctions

/** SparkSessionExtensions entry point — the engine's SQL functions
  * become available to SQL text in ANY session configured with
  * `spark.sql.extensions=graft.engine.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`), the standard injection
  * mechanism for operator/function extensions (SURVEY.md §2.2: the
  * reference's extensibility point is a Rust trait registry; ours is
  * this). The functions come from `GraftFunctions.Table`, the table
  * `GraftFunctions.register` also reads, so both seams expose the same
  * surface. Operators need neither seam: they build the same
  * expressions as Columns (`TextFunctions`, `VectorFunctions`).
  * Besides the functions it installs one planner strategy and no
  * optimizer rule: the engine's one logical rewrite,
  * `plans.BloomJoinRewrite`, is applied by its caller to its own plan.
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
  }
}
