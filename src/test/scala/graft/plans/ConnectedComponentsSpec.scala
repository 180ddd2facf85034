package graft.plans

import java.util.concurrent.atomic.AtomicInteger

import graft.ops.Dedup
import graft.sql.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftInterop}
import org.apache.spark.sql.execution.{InputAdapter, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** [[ConnectedComponents]]: `Dedup.connectedComponents` solves a graph
  * whose pair plan fits the task budget in one executor task, and the
  * result is the distributed loop's whatever the input; building it runs
  * no job, and a sort over it adds no exchange.
  */
class ConnectedComponentsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def leafSum(pairs: DataFrame): BigInt =
    PlanSize.leafBytes(pairs.queryExecution.analyzed).get

  private def singleTask(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists(_.isInstanceOf[ConnectedComponents])

  /** `pairs` through the single-task path and through the distributed loop,
    * each checked to have taken its path. */
  private def bothPaths(pairs: DataFrame): (Map[Long, Long], Map[Long, Long]) = {
    val (one, oneRounds) = Dedup.components(pairs, "id_a", "id_b", 30, leafSum(pairs), pairs)
    assert(oneRounds == 0 && singleTask(one))
    val (loop, loopRounds) = Dedup.components(pairs, "id_a", "id_b", 30, BigInt(-1), pairs)
    assert(loopRounds > 0 && !singleTask(loop))
    (labels(one), labels(loop))
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

  test("a pair with a null end is dropped on both paths") {
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(3L)), (None, Some(5L)), (Some(7L), None),
      (Some(8L), Some(9L))).toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 8L, 9L -> 8L)
    val (one, loop) = bothPaths(pairs)
    assert(one == want, one)
    assert(loop == want, loop)
    // the public entry point takes the single-task path for this graph
    assert(labels(Dedup.connectedComponents(pairs)) == want)
  }

  test("an empty pair set gives no rows on both paths") {
    val (one, loop) = bothPaths(Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    assert(one.isEmpty && loop.isEmpty)
  }

  test("random graphs: both paths label every node with its component minimum") {
    for ((seed, pairCount, idRange) <- Seq((7, 400, 120), (11, 150, 400))) {
      val rnd = new scala.util.Random(seed)
      val pairs = ((0 until pairCount).map { _ =>
        (rnd.nextInt(idRange).toLong, rnd.nextInt(idRange).toLong)
      } :+ ((200L, 200L))).toDF("id_a", "id_b")
      val (one, loop) = bothPaths(pairs)
      assert(one == loop, s"seed $seed")
      assert(one.forall { case (node, root) => root <= node }, s"seed $seed")
    }
  }

  test("the diameter-10^4 permuted path closes to one label on both paths") {
    val n = 10007 // prime -> i * 48271 % n is a bijection
    val perm = (i: Int) => (i.toLong * 48271L) % n
    val pairs = (0 until n - 1).map(i => (perm(i), perm(i + 1))).toDF("id_a", "id_b")
    val (one, loop) = bothPaths(pairs)
    assert(one.size == n && one.values.toSet == Set(0L))
    assert(one == loop)
  }

  test("self-loops, duplicates, reversed pairs, nulls and extreme ids agree") {
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(5L), Some(5L)), (Some(1L), Some(2L)), (Some(2L), Some(1L)), (Some(1L), Some(2L)),
      (Some(Long.MaxValue), Some(Long.MinValue)), (Some(-3L), Some(4L)), (Some(4L), Some(-3L)),
      (None, None), (Some(6L), None), (Some(4L), Some(Long.MaxValue)), (Some(9L), Some(9L)),
      (Some(9L), Some(9L))).toDF("id_a", "id_b")
    val low = Long.MinValue
    val want = Map(5L -> 5L, 1L -> 1L, 2L -> 1L, Long.MaxValue -> low, low -> low,
      -3L -> low, 4L -> low, 9L -> 9L)
    val (one, loop) = bothPaths(pairs)
    assert(one == want, one)
    assert(loop == want, loop)
    // int ids are cast to long on both paths
    val ints = Seq((3, 1), (1, 2), (7, 7)).toDF("id_a", "id_b")
    val (oneInt, loopInt) = bothPaths(ints)
    assert(oneInt == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L) && oneInt == loopInt)
  }

  test("a result joined with itself resolves and agrees with the loop's") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    def selfJoined(cc: DataFrame): Set[(Long, Long)] =
      cc.as("x").join(cc.as("y"), $"x.cluster_id" === $"y.doc_id")
        .select($"x.doc_id", $"y.cluster_id").as[(Long, Long)].collect().toSet
    val one = Dedup.components(pairs, "id_a", "id_b", 30, leafSum(pairs), pairs)._1
    val loop = Dedup.components(pairs, "id_a", "id_b", 30, BigInt(-1), pairs)._1
    assert(singleTask(one))
    assert(selfJoined(one) == Set((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L)))
    assert(selfJoined(one) == selfJoined(loop))
  }

  test("the gate: the leaf sum at the budget takes one task, one byte above it the loop") {
    val rnd = new scala.util.Random(3)
    val pairs = (0 until 200).map(_ => (rnd.nextInt(90).toLong, rnd.nextInt(90).toLong))
      .toDF("id_a", "id_b")
    val sum = leafSum(pairs)
    val runs = Seq(sum - 1, sum, sum + 1).map { budget =>
      val (df, rounds) = Dedup.components(pairs, "id_a", "id_b", 30, budget, pairs)
      (rounds == 0, singleTask(df), labels(df))
    }
    assert(runs.map(r => (r._1, r._2)) == Seq((false, false), (true, true), (true, true)))
    assert(runs.map(_._3).distinct.size == 1)
    // an RDD-backed input carries Spark's default size: the loop
    val rddPairs = spark.createDataFrame(pairs.rdd, pairs.schema)
    val (viaRdd, rddRounds) = Dedup.connectedComponentsWithRounds(rddPairs)
    assert(rddRounds > 0 && labels(viaRdd) == runs.head._3)
  }

  test("clusterDBSCAN sizes the gate by its points: a small input runs no loop round") {
    // a chain of 40 core points, one cluster; the edges' own leaves are
    // lazy checkpoints with join-product estimates far above the budget
    val pts = (0 until 40).map(i => (i.toLong, i * 0.5, 0.0)).toDF("id", "x", "y")
    var out: DataFrame = null
    val buildJobs = jobsOf {
      out = graft.api.GeoDataFrame.pointsFromXY(pts, "x", "y")
        .clusterDBSCAN("id", eps = 0.6, minPoints = 2)
    }
    // building runs the checkpoints' shuffle stages (AQE materializes a
    // lazy checkpoint's stages when it takes its RDD): 12 jobs here. The
    // loop on the same input adds its checkpoints and label sums per
    // round: 81 jobs in all.
    assert(buildJobs < 20, buildJobs)
    val labels = out.select($"cluster_id").distinct().as[Long].collect().toSeq
    assert(labels == Seq(0L) && out.count() == 40)
  }

  test("over parquet pairs: building starts no job, and orderBy adds no exchange above it") {
    val dir = java.nio.file.Files.createTempDirectory("cc-pairs").resolve("p").toString
    Seq((4L, 2L), (2L, 9L), (7L, 8L), (9L, 11L)).toDF("id_a", "id_b")
      .coalesce(1).write.parquet(dir)
    val pairs = spark.read.parquet(dir)
    var sorted: DataFrame = null
    val buildJobs = jobsOf {
      sorted = Dedup.connectedComponents(pairs).orderBy("doc_id")
    }
    assert(buildJobs == 0)
    assert(singleTask(sorted))
    val rows = sorted.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((2L, 2L), (4L, 2L), (7L, 7L), (8L, 7L), (9L, 2L), (11L, 2L)))
    val plan = sorted.queryExecution.executedPlan
    val node = collect(plan) { case c: ConnectedComponentsExec => c }
    assert(node.size == 1, plan.toString)
    val sorts = collect(plan) { case s: SortExec if s.global => s }
    assert(sorts.size == 1, plan.toString)
    // the sort's input is the node itself (behind codegen's input adapter)
    val sortInput = sorts.head.child match { case a: InputAdapter => a.child; case c => c }
    assert(sortInput.isInstanceOf[ConnectedComponentsExec], plan.toString)
    // the one exchange gathers the edges below the node
    val exchanges = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, plan.toString)
    assert(collect(node.head) { case e: ShuffleExchangeExec => e }.size == 1, plan.toString)
  }
}
