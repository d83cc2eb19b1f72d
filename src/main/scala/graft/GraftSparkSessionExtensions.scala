package graft

import org.apache.spark.sql.SparkSessionExtensions

/** `spark.sql.extensions`-style registration (reference analog:
  * SedonaContext::new_local_interactive wiring the planner chain,
  * rust/sedona/src/context.rs:110-269).
  *
  * The rules come from the one table in `GraftExtensions`, split between
  * the two installers:
  *  - this extension injects `KnnJoinCaptureRule` and the operator rules
  *    (`GraftExtensions.operatorRules`) with their strategy
  *    (`GraftExtensions.operatorStrategy`);
  *  - `GraftExtensions.install` appends the post-hoc rules
  *    (`GraftExtensions.postHocRules`) to `spark.experimental`, registers
  *    the functions, and adds the operator rules and strategy itself only
  *    for a session built without this extension.
  *
  * Only the extension can run the KNN capture at ANALYSIS time, before
  * predicate pushdown — the pushdown barrier of SURVEY §2.4.
  * `GraftExtensions.localSession` builds a session with both. By hand,
  * name this class in `spark.sql.extensions` when building the session,
  * then call `GraftExtensions.install(spark)`.
  */
class GraftSparkSessionExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPostHocResolutionRule(_ => graft.plans.KnnJoinCaptureRule)
    GraftExtensions.operatorRules.foreach(ext.injectOptimizerRule)
    ext.injectPlannerStrategy(GraftExtensions.operatorStrategy)
  }
}
