package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, LogicalQueryStage}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** What a plan's leaves say about the size of its input, read without
  * running anything: the size-based choices of [[SmallSort]] and
  * [[ConnectedComponents]] rest on it.
  */
object PlanSize {

  /** Summed `stats.sizeInBytes` of the plan's leaves; `None` when one is of
    * another kind. The leaves counted are file scans, local relations,
    * checkpoints and `LogicalQueryStage`s (a stage AQE has run, with its
    * runtime size). A `LogicalRDD` over an RDD built by hand carries
    * Spark's default size (`spark.sql.defaultSizeInBytes`, `Long.MaxValue`),
    * so it is above any gate.
    */
  def leafBytes(plan: LogicalPlan): Option[BigInt] =
    plan.collectLeaves().foldLeft(Option(BigInt(0))) {
      case (Some(sum), leaf @ (_: LogicalRelation | _: LocalRelation | _: LogicalRDD |
          _: LogicalQueryStage)) =>
        Some(sum + leaf.stats.sizeInBytes)
      case _ => None
    }
}
