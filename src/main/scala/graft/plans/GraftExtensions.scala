package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** Library extension entry point:
  * `spark.sql.extensions=graft.plans.GraftExtensions` registers the
  * TopK planner strategy and the window-top-k rewrite at session build
  * (graft.core.GraftSession sets it), so the optimizer is fixed before
  * the session's first query and never changes afterwards. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => TopKPerKey.TopKStrategy)
    ext.injectOptimizerRule(_ => RewriteWindowTopK)
  }
}
