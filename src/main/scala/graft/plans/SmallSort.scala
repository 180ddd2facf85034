package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LogicalPlan, Project,
  Sort, Window}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Planner strategy: a global sort over a small input gathers to one
  * partition instead of range-partitioning.
  *
  * For a `rangepartitioning` exchange Spark builds a `RangePartitioner`,
  * and that runs a separate sampling job over the sort's whole input
  * pipeline (scan, graft kernels, joins) only to pick the range bounds:
  * under AQE one extra job per query, costing about as much executor CPU
  * as the map stage itself. A `SinglePartition` exchange needs no bounds.
  * So when
  *  - the active conf has AQE and its partition coalescing on, and
  *  - the summed `stats.sizeInBytes` of the sort's leaves is at most the
  *    task size AQE's coalescing picks for one advisory partition of input:
  *    `spark.sql.adaptive.advisoryPartitionSizeInBytes`, divided by its
  *    minimum partition count (`coalescePartitions.minPartitionNum`, else
  *    `defaultParallelism`) when `coalescePartitions.parallelismFirst` is
  *    on, as it is by default,
  * a global `Sort` plans as
  * `SortExec(global, ShuffleExchangeExec(SinglePartition, child))` rather
  * than leaving a range exchange to `EnsureRequirements`.
  *
  * Map-side parallelism is unchanged; only the final sort runs in one task,
  * and the gate keeps that task no larger than one of the tasks AQE would
  * split an advisory partition into (PROFILE.md, "Small global sorts",
  * has the case of a gate at the advisory size itself). The leaves counted
  * are those of [[PlanSize.leafBytes]]; any other leaf keeps today's plan.
  * When AQE re-plans after a stage below the sort has run, that stage is a
  * `LogicalQueryStage` leaf carrying its runtime size, so a static estimate
  * above the gate can still gather in the final plan, and one below it can
  * return to a range exchange. With
  * AQE off (streaming micro-batches included), above the gate, and over a
  * child that is already one partition (a limit, an unpartitioned window,
  * [[ConnectedComponents]]), planning is Spark's own. Results are
  * unchanged: the same sort runs over the same rows.
  */
object SmallSort extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if gathers(child) =>
      SortExec(order, global = true,
        ShuffleExchangeExec(SinglePartition, planLater(child), ENSURE_REQUIREMENTS)) :: Nil
    case _ => Nil
  }

  private def gathers(child: LogicalPlan): Boolean = {
    val conf = SQLConf.get
    conf.adaptiveExecutionEnabled && conf.coalesceShufflePartitionsEnabled &&
      !onePartition(child) && PlanSize.leafBytes(child).exists(_ <= taskBytes(conf))
  }

  /** The task size AQE's coalescing picks for one advisory partition of
    * input: the advisory size, split over its minimum partition count when
    * it puts parallelism first (Spark's default). */
  private def taskBytes(conf: SQLConf): BigInt = {
    val minPartitions =
      if (!conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) 1
      else conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM)
        .getOrElse(SparkSession.active.sparkContext.defaultParallelism)
    BigInt(conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)) / minPartitions
  }

  /** Children Spark plans with one output partition: no exchange goes under their sort. */
  private def onePartition(plan: LogicalPlan): Boolean = plan match {
    case _: GlobalLimit => true
    case w: Window => w.partitionSpec.isEmpty
    case _: ConnectedComponents => true
    case Project(_, child) => onePartition(child)
    case Filter(_, child) => onePartition(child)
    case _ => false
  }
}
