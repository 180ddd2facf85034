package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

/** `spark.sql.extensions` entry point: registers the engine's optimizer
  * rules and planner strategies with a session at build time —
  * `SparkSession.builder.config("spark.sql.extensions",
  * "graft.plans.GraftExtensions")`. Sessions created without the config get
  * the same lists from `graft.sql.functions.install` via
  * `spark.experimental`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.rules.foreach(rule => ext.injectOptimizerRule(_ => rule))
    GraftExtensions.strategies.foreach(strategy => ext.injectPlannerStrategy(_ => strategy))
  }
}

object GraftExtensions {
  /** Optimizer rules, in the order they run. */
  val rules: Seq[Rule[LogicalPlan]] = Seq(SpatialFilterPushdown, V2BboxPushdown, SpatialJoinRewrite)

  /** Planner strategies, tried before Spark's own. */
  val strategies: Seq[SparkStrategy] = Seq(IndexedSpatialJoinStrategy, SmallSort, ConnectedComponentsStrategy)
}
