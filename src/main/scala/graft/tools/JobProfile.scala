package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftInterop, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Per-job wall breakdown of one pass over declared queries (optimization
  * triage for multi-job queries: trainers, streaming gates, IO roundtrips).
  * A pass builds each query in list order and forces it with a noop write,
  * the shape of `graft.Bench` and the perfbench loop. After one warm-up
  * pass, each profiled pass prints every Spark job with its query, wall
  * seconds, the gap since the previous job ended (driver-side time), the
  * stages and tasks it ran and their executor CPU milliseconds, then the
  * pass's Janino compiles and compile milliseconds (Spark's
  * `CodegenMetrics`): non-zero in a warm pass means generated classes were
  * evicted and recompiled. Queries are full names or their id prefix
  * (`t02`). Not part of the driver contract. Usage:
  * `sbt "runMain graft.tools.JobProfile t02,t05,t07,t10,t31,t68 [iters]"`.
  */
object JobProfile {
  private val QueryKey = "graft.profile.query"

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq.filter(_.nonEmpty)
    val iters = args.lift(1).map(_.toInt).getOrElse(2)
    val fns = names.map { n =>
      graft.SparkEntry.queries.find { case (k, _) => k == n || k.startsWith(n + "_") }
        .getOrElse { System.err.println(s"unknown query: $n"); sys.exit(2) }
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sql.functions.install(spark)

    final case class J(id: Int, start: Long, query: String, desc: String, var end: Long = -1L,
        var stages: Int = 0, var tasks: Int = 0, var cpuNs: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    // a stage runs in the first job that lists it; later jobs skip it
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    def jobOf(stageId: Int): Option[J] =
      Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j)))
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
          .getOrElse("")
        jobs.put(e.jobId, J(e.jobId, e.time, prop(QueryKey), prop("spark.job.description")))
        e.stageIds.foreach(stageJob.putIfAbsent(_, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobOf(e.stageInfo.stageId).foreach(_.stages += 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobOf(e.stageId).foreach { j =>
        j.tasks += 1
        if (e.taskMetrics != null) j.cpuNs += e.taskMetrics.executorCpuTime
      }
    })

    def pass(): Unit = fns.foreach { case (name, fn) =>
      spark.sparkContext.setLocalProperty(QueryKey, name)
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"$name failed: $e") }
      spark.sparkContext.setLocalProperty(QueryKey, null)
    }

    pass() // warm-up (codegen/JIT), not profiled
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    for (i <- 1 to iters) {
      jobs.clear()
      stageJob.clear()
      val (c0, ns0) = (compiles.getCount, CodeGenerator.compileTime)
      val t0 = System.nanoTime()
      pass()
      val wall = (System.nanoTime() - t0) / 1e9
      val (nc, compileMs) = (compiles.getCount - c0, (CodeGenerator.compileTime - ns0) / 1e6)
      GraftInterop.drainListeners(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      val js = jobs.values.asScala.toSeq.sortBy(_.id)
      var prevEnd = -1L
      var sumJobs = 0.0
      println(f"== pass $i wall $wall%.2f s, ${js.size} jobs ==")
      js.foreach { j =>
        val dur = if (j.end > 0) (j.end - j.start) / 1e3 else -1.0
        val gap = if (prevEnd > 0) (j.start - prevEnd) / 1e3 else 0.0
        if (dur > 0) sumJobs += dur
        prevEnd = math.max(prevEnd, j.end)
        val d = if (j.desc.length > 90) j.desc.substring(0, 90) else j.desc
        println(f"  job ${j.id}%4d ${dur}%7.3f s  gap ${gap}%7.3f s  ${j.stages}%2d stg " +
          f"${j.tasks}%3d tasks ${j.cpuNs / 1e6}%7.1f cpu-ms  ${j.query} $d")
      }
      println(f"  sum(jobs) $sumJobs%.2f s, driver/gaps ${wall - sumJobs}%.2f s")
      println("  jobs per query: " + js.groupBy(_.query).toSeq.sortBy(_._2.head.id)
        .map { case (q, qjs) => s"$q ${qjs.size}" }.mkString(", "))
      println(f"  codegen: $nc compiles, $compileMs%.1f ms")
    }
    spark.stop()
  }
}
