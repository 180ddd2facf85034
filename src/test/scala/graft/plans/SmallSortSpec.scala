package graft.plans

import java.util.concurrent.atomic.AtomicInteger

import graft.sql.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, GraftInterop, Row}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning,
  SinglePartition}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** [[SmallSort]]: a global sort over a small input gathers to one partition
  * (no range-sampling job), returns exactly the rows and order Spark's range
  * exchange returns, and leaves every other plan as Spark plans it.
  */
class SmallSortSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  // independent session: conf changes here must not leak into other suites
  lazy val spark = {
    val s = TestSpark.spark.newSession()
    graft.sql.functions.install(s)
    s
  }

  /** One parquet file (one split, so ties keep file order on both plans):
    * a tied int key, a double with NaN, ±inf, ±0.0 and nulls, a string
    * with nulls. */
  private lazy val read: DataFrame = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("small-sort").resolve("t").toString
    val special = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0)
    val rnd = new scala.util.Random(6)
    (0 until 3000).map { i =>
      val d = if (i % 11 == 0) None else if (i % 13 == 0) Some(special(i % 5))
        else Some(rnd.nextInt(50) / 4.0)
      val s = if (i % 9 == 0) None else Some(f"s${rnd.nextInt(40)}%02d")
      (i.toLong, i % 7, d, s)
    }.toDF("id", "k", "d", "s").coalesce(1).write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def inputBytes: BigInt = read.queryExecution.optimizedPlan.stats.sizeInBytes

  private val Advisory = SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key

  private def withConf[T](kvs: (String, String)*)(f: => T): T = {
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** Closes the gate: the input is larger than one advisory partition. */
  private def gateClosed[T](f: => T): T = withConf(Advisory -> (inputBytes / 2).toString)(f)

  /** A plan's text with expression and plan ids masked, as in `tools/Plans`. */
  private def planText(df: DataFrame): String =
    df.queryExecution.executedPlan.toString
      .replaceAll("#\\d+", "#x").replaceAll("plan_id=\\d+", "plan_id=x")

  private def withoutSmallSort[T](f: => T): T = {
    val experimental = spark.experimental
    val saved = experimental.extraStrategies
    experimental.extraStrategies = saved.filterNot(_ eq SmallSort)
    try f finally experimental.extraStrategies = saved
  }

  /** Runs `df` and returns its rows and final plan. */
  private def run(df: DataFrame): (Seq[Row], SparkPlan) = {
    val rows = df.collect().toSeq
    val plan = df.queryExecution.executedPlan
    plan match {
      case a: AdaptiveSparkPlanExec => assert(a.isFinalPlan)
      case _ =>
    }
    (rows, plan)
  }

  private def exchanges(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    collect(plan) { case e: ShuffleExchangeExec => e }

  /** The partitioning of the shuffle nearest below the plan's one global sort. */
  private def sortExchange(plan: SparkPlan): Partitioning = {
    val sorts = collect(plan) { case s: SortExec if s.global => s }
    assert(sorts.size == 1, plan.toString)
    exchanges(sorts.head.child).head.outputPartitioning
  }

  private def jobsOf(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftInterop.drainListeners(sc)
    sc.addSparkListener(listener)
    try { f; GraftInterop.drainListeners(sc) } finally sc.removeSparkListener(listener)
    jobs.get()
  }

  test("a small orderBy over parquet gathers to one partition under the global sort") {
    val (rows, plan) = run(read.orderBy("k", "id"))
    assert(rows.size == 3000)
    assert(sortExchange(plan) == SinglePartition, plan.toString)
    assert(exchanges(plan).size == 1, plan.toString)
    assert(!plan.toString.contains("rangepartitioning"), plan.toString)
  }

  test("gathering runs one job fewer than the range exchange it replaces") {
    read // built (schema read) outside the counted actions
    val open = jobsOf(read.orderBy("k", "id").collect())
    val closed = gateClosed(jobsOf(read.orderBy("k", "id").collect()))
    assert(open == closed - 1, s"gathered $open jobs, range-partitioned $closed")
  }

  test("gathered and range-partitioned sorts return the same rows in the same order") {
    val orders: Seq[(String, Seq[String], Seq[Column])] = Seq(
      ("ties", Seq("k"), Seq(col("k"))),
      ("desc ties", Seq("k"), Seq(col("k").desc)),
      ("nulls first", Seq("s"), Seq(col("s").asc_nulls_first)),
      ("desc nulls last", Seq("s"), Seq(col("s").desc_nulls_last)),
      ("NaN, infinities, signed zeros, nulls", Seq("d"), Seq(col("d"))),
      ("NaN desc nulls first", Seq("d"), Seq(col("d").desc_nulls_first)),
      ("multi-column", Seq("k", "d", "s", "id"),
        Seq(col("k").desc, col("d").asc_nulls_last, col("s"), col("id").desc)))
    // Rows are compared as text: Row equality treats NaN as unequal to itself.
    def text(rows: Seq[Row]): Seq[String] = rows.map(_.toString)
    // Spark's sorter keeps input order among tied rows only when the key has
    // no nulls (it swaps null-key records to the front of its pointer
    // array), so tie order is no property of either plan. With ties the key
    // sequence and the rows must match; broken by `id`, the rows in order.
    orders.foreach { case (name, keys, order) =>
      val (gathered, gPlan) = run(read.orderBy(order: _*))
      val (ranged, rPlan) = gateClosed(run(read.orderBy(order: _*)))
      assert(sortExchange(gPlan) == SinglePartition, s"$name: $gPlan")
      assert(sortExchange(rPlan).isInstanceOf[RangePartitioning], s"$name: $rPlan")
      def keySeq(rows: Seq[Row]) = rows.map(r => keys.map(k => r.getAs[Any](k) match {
        case d: Double if d == 0.0 => "0.0" // -0.0 and 0.0 tie
        case v => String.valueOf(v)
      }))
      assert(gathered.size == 3000 && keySeq(gathered) == keySeq(ranged), s"$name: key order")
      assert(text(gathered).sorted == text(ranged).sorted, s"$name: rows differ")
      val total = order :+ col("id")
      assert(text(run(read.orderBy(total: _*))._1) ==
        text(gateClosed(run(read.orderBy(total: _*)))._1), s"$name, id: rows or order differ")
    }
  }

  test("an input above the gate keeps its range exchange") {
    val (_, plan) = gateClosed(run(read.orderBy("k", "id")))
    assert(sortExchange(plan).isInstanceOf[RangePartitioning], plan.toString)
    assert(exchanges(plan).size == 1, plan.toString)
  }

  test("the gate is one advisory partition split over AQE's parallelism-first partition count") {
    // local[4]: with parallelism first, the gate is a quarter of the advisory size
    withConf(Advisory -> (inputBytes * 2).toString) {
      assert(sortExchange(run(read.orderBy("k", "id"))._2).isInstanceOf[RangePartitioning])
      withConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST.key -> "false") {
        assert(sortExchange(run(read.orderBy("k", "id"))._2) == SinglePartition)
      }
    }
  }

  test("with AQE off the plan is Spark's own") {
    withConf(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key -> "false") {
      val plan = planText(read.orderBy("k", "id"))
      assert(plan.contains("rangepartitioning"), plan)
      assert(plan == withoutSmallSort(planText(read.orderBy("k", "id"))))
    }
  }

  test("top-k, partition-local sorts, window sorts and sorts over one partition are untouched") {
    val queries: Seq[(String, () => DataFrame)] = Seq(
      "orderBy.limit" -> (() => read.orderBy("k", "id").limit(10)),
      "sortWithinPartitions" -> (() => read.sortWithinPartitions("k")),
      "window" -> (() => read.withColumn("r",
        row_number().over(Window.partitionBy("k").orderBy("id")))),
      "limit.orderBy" -> (() => read.limit(100).orderBy("k", "id")),
      "unpartitioned window.orderBy" -> (() => read.withColumn("r",
        row_number().over(Window.orderBy("id"))).orderBy("k", "id")))
    queries.foreach { case (name, df) =>
      val plan = planText(df())
      assert(plan == withoutSmallSort(planText(df())), s"$name: $plan")
    }
    val (top, topPlan) = run(read.orderBy("k", "id").limit(10))
    assert(topPlan.toString.contains("TakeOrderedAndProject"), topPlan.toString)
    assert(top.map(_.getLong(0)) == Seq(0L, 7L, 14L, 21L, 28L, 35L, 42L, 49L, 56L, 63L))
  }

  test("a static estimate above the gate that shrinks at runtime gathers in the final plan") {
    gateClosed {
      val df = read.groupBy("k").agg(count(lit(1)).as("n"), sum("id").as("ids"))
        .orderBy(col("n").desc, col("k"))
      val initial = df.queryExecution.executedPlan.toString
      assert(initial.contains("rangepartitioning"), initial)
      val (rows, plan) = run(df)
      assert(rows.map(_.getInt(0)) == (0 until 7))
      assert(sortExchange(plan) == SinglePartition, plan.toString)
      assert(exchanges(plan).size == 2, plan.toString)
    }
  }

  test("install twice registers every rule and strategy exactly once") {
    val s = TestSpark.spark.newSession()
    graft.sql.functions.install(s)
    graft.sql.functions.install(s)
    GraftExtensions.rules.foreach { rule =>
      assert(s.experimental.extraOptimizations.count(_ eq rule) == 1, rule.ruleName)
    }
    GraftExtensions.strategies.foreach { strategy =>
      assert(s.sessionState.planner.strategies.count(_ eq strategy) == 1, strategy.toString)
    }
  }
}
