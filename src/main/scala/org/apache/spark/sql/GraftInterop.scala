package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Interop shim: a few Spark internals needed to build a function library
  * (Column <-> Expression bridging, the input-type ADT) are `private[sql]`
  * in Spark 4. Aliasing them from inside the package is the standard way
  * third-party Catalyst extensions (connectors, Sedona-style libs) bind.
  */
object GraftInterop {
  type AbsType = org.apache.spark.sql.types.AbstractDataType

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `c` with nested Columns converted too, for plans built by hand. */
  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)
  /** An analyzed DataFrame over a hand-built plan (`Dataset.ofRows`). */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Blocks until every event posted to the (private) listener bus so far
    * has reached the listeners, so job counts read after an action are
    * complete, late job-end events included. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `localCheckpoint` with a bounded size estimate.
    *
    * Spark 4's `Dataset.localCheckpoint` eagerly carries the ORIGINAL
    * plan's statistics onto the `LogicalRDD` leaf
    * (`LogicalRDD.rewriteStatsAndConstraints`). For an iterative algorithm
    * that checkpoints each round (connected components), round k's plan
    * joins round k-1's leaves, and size-only join estimation MULTIPLIES
    * child sizes — so the carried `sizeInBytes` grows doubly-exponentially
    * in the round count. By ~round 12 the BigInt has ~10^8 bits and each
    * stats product (ToomCook multiply) stalls the driver for minutes; a
    * deep-diameter component (log2(10^4) ~ 14 rounds) never finishes.
    *
    * This wrapper checkpoints, then rebuilds the `LogicalRDD` leaf with
    * `sizeInBytes` capped (default 1 TiB — far above every broadcast
    * threshold, so capping can only DISABLE a broadcast, never wrongly
    * enable one; row counts and correctness are unaffected).
    */
  def localCheckpointCappedStats(df: Dataset[Row],
      capBytes: Long = 1L << 40): DataFrame = {
    val ck = df.localCheckpoint()
    ck.queryExecution.logical match {
      case lr: execution.LogicalRDD if lr.computeStats().sizeInBytes > BigInt(capBytes) =>
        val spark = ck.sparkSession.asInstanceOf[classic.SparkSession]
        val trimmed = lr.copy(lr.output, lr.rdd, lr.outputPartitioning,
          lr.outputOrdering, lr.isStreaming, lr.stream)(spark,
          Some(catalyst.plans.logical.Statistics(BigInt(capBytes))), None)
        classic.Dataset.ofRows(spark, trimmed)
      case _ => ck
    }
  }
}
