package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference

import scala.jdk.CollectionConverters._

import graft.Bench
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftInterop, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SimpleMode}
import org.apache.spark.sql.util.QueryExecutionListener

/** The profiling tool: declared queries in one session, in one of three
  * modes. Usage:
  * `sbt "runMain graft.tools.Profile <jobs|time|plan> <q1,q2,...> [iters]"`.
  *
  *  - `jobs`: one warm-up pass (codegen, JIT), then `iters` (default 2)
  *    profiled passes. Each prints every Spark job with its query, wall
  *    seconds, the gap since the previous job ended (time outside jobs), the
  *    stages and tasks it ran and their executor CPU milliseconds, then
  *    the jobs per query and the pass's Janino compiles (Spark's
  *    `CodegenMetrics`; non-zero in a warm pass means generated classes
  *    were evicted and recompiled).
  *  - `time`: each query runs once untimed (JIT and codegen warm-up, as
  *    in `graft.Bench`), then `iters` (default 3) times; every timed run's
  *    seconds go to stderr, and stdout gets one JSON line of the lower
  *    median per query: `{"sf":...,"iters":N,"queries":{"<name>":s,...}}`.
  *  - `plan`: each query's `SimpleMode` plan on stdout. With
  *    `SPARK_GRAFT_PLAN_OUT=<dir>,<suffix>` each query runs instead and
  *    its final adaptive plan (`isFinalPlan=true`, the one AQE re-planned
  *    from runtime sizes) goes to `<dir>/<query>_<suffix>.txt` in
  *    FORMATTED mode, expression and plan ids replaced by `x` so two dumps
  *    of the same plan diff clean whatever ran before them.
  *
  * A query is a full name or a prefix of one name (an id such as `t05`).
  * Every run is a noop write, as in `graft.Bench`, in `graft.Bench`'s
  * session (`SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS`) plus
  * `SPARK_GRAFT_EXTRA_CONF="k=v,k2=v2"` (`Bench.toolSessionBuilder`, as
  * in `graft.Verify`). Every mode runs all its queries, then exits 1 naming
  * those that threw.
  */
object Profile {
  type Query = (SparkSession, String) => DataFrame

  private val QueryKey = "graft.profile.query"

  def main(args: Array[String]): Unit = {
    val modes = Set("jobs", "time", "plan")
    if (args.length < 2 || !modes(args(0))) {
      System.err.println("usage: graft.tools.Profile <jobs|time|plan> <q1,q2,...> [iters]")
      sys.exit(2)
    }
    val names = args(1).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val qs = resolve(names, graft.SparkEntry.queries) match {
      case Right(qs) => qs
      case Left(errors) => errors.foreach(System.err.println); sys.exit(2)
    }
    val iters = args.lift(2).map(_.toInt)
    val spark = Bench.toolSessionBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sql.functions.install(spark)
    val sfDir = Bench.sfDir
    val failed = args(0) match {
      case "jobs" => jobs(spark, sfDir, qs, iters.getOrElse(2))._1
      case "time" => time(spark, sfDir, qs, iters.getOrElse(3))
      case "plan" => plan(spark, sfDir, qs)
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[profile] ${failed.size} of ${qs.size} failed: ${failed.mkString(" ")}")
      sys.exit(1)
    }
  }

  /** Each name as the query it names: a full name, or a prefix of exactly
    * one name, where an id (`g11`) picks its own query though it also
    * prefixes longer ids (`g110_...`). Left: one message per name that
    * matches no query or several.
    */
  def resolve[Q](names: Seq[String],
      queries: Map[String, Q]): Either[Seq[String], Seq[(String, Q)]] = {
    val keys = queries.keys.toSeq.sorted
    val hits = names.map { n =>
      val all = keys.filter(_.startsWith(n))
      val own = all.filter(k => k == n || k.startsWith(n + "_"))
      n -> (if (own.size == 1) own else all)
    }
    val errors = hits.collect {
      case (n, Seq()) => s"unknown query: $n"
      case (n, ks) if ks.size > 1 => s"ambiguous query: $n matches ${ks.mkString(" ")}"
    }
    if (errors.nonEmpty) Left(errors)
    else Right(hits.map { case (_, ks) => ks.head -> queries(ks.head) })
  }

  /** Runs `body` on each query in order and returns the names of those
    * that threw; the others still run.
    */
  def pass[Q](qs: Seq[(String, Q)], tag: String = "profile")(
      body: (String, Q) => Unit): Seq[String] =
    qs.flatMap { case (name, q) =>
      try { body(name, q); None }
      catch { case e: Throwable => System.err.println(s"[$tag] $name failed: $e"); Some(name) }
    }

  final case class Job(id: Int, start: Long, query: String, desc: String, var end: Long = -1L,
      var stages: Int = 0, var tasks: Int = 0, var cpuNs: Long = 0L)

  /** `jobs` mode: the failed queries of all passes and the jobs of each
    * profiled pass.
    */
  def jobs(spark: SparkSession, sfDir: String, qs: Seq[(String, Query)],
      iters: Int): (Seq[String], Seq[Seq[Job]]) = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentHashMap[Int, Job]()
    // a stage runs in the first job that lists it; later jobs skip it
    val stageJob = new ConcurrentHashMap[Int, Int]()
    def jobOf(stageId: Int): Option[Job] =
      Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j)))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
          .getOrElse("")
        jobs.put(e.jobId, Job(e.jobId, e.time, prop(QueryKey), prop("spark.job.description")))
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
    }
    def run(): Seq[String] = pass(qs) { (name, q) =>
      sc.setLocalProperty(QueryKey, name)
      try Bench.force(q(spark, sfDir)) finally sc.setLocalProperty(QueryKey, null)
    }

    sc.addSparkListener(listener)
    try {
      val warmFailed = run()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
      val passes = (1 to iters).map { i =>
        GraftInterop.drainListeners(sc)
        jobs.clear()
        stageJob.clear()
        val (c0, ns0) = (compiles.getCount, CodeGenerator.compileTime)
        val t0 = System.nanoTime()
        val failed = run()
        val wall = (System.nanoTime() - t0) / 1e9
        val (nc, compileMs) = (compiles.getCount - c0, (CodeGenerator.compileTime - ns0) / 1e6)
        GraftInterop.drainListeners(sc)
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
        (failed, js)
      }
      ((warmFailed ++ passes.flatMap(_._1)).distinct, passes.map(_._2))
    } finally sc.removeSparkListener(listener)
  }

  /** `time` mode: prints the JSON line and returns the failed queries. */
  def time(spark: SparkSession, sfDir: String, qs: Seq[(String, Query)],
      iters: Int): Seq[String] = {
    val medians = Seq.newBuilder[(String, Double)]
    val failed = pass(qs) { (name, q) =>
      Bench.force(q(spark, sfDir)) // untimed warm-up, as graft.Bench runs
      val times = (1 to iters).map { i =>
        val t0 = System.nanoTime()
        Bench.force(q(spark, sfDir))
        val s = (System.nanoTime() - t0) / 1e9
        System.err.println(f"$name run $i: $s%.2f s")
        s
      }.sorted
      medians += name -> times((times.size - 1) / 2)
    }
    val js = medians.result().map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    println(s"""{"sf":"${Bench.jesc(sfDir)}","iters":$iters,"queries":$js}""")
    failed
  }

  /** `plan` mode: prints or writes each plan, returns the failed queries. */
  def plan(spark: SparkSession, sfDir: String, qs: Seq[(String, Query)]): Seq[String] = {
    val out = sys.env.get("SPARK_GRAFT_PLAN_OUT").map { s =>
      val Array(dir, suffix) = s.split(",", 2)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      (dir, suffix)
    }
    val lastRun = new AtomicReference[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        lastRun.set(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try pass(qs) { (n, q) =>
      val df = q(spark, sfDir)
      out match {
        case Some((dir, suffix)) =>
          Bench.force(df)
          GraftInterop.drainListeners(spark.sparkContext)
          val txt = lastRun.get.explainString(FormattedMode)
            .replaceAll("#\\d+", "#x").replaceAll("plan_id=\\d+", "plan_id=x")
          java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/${n}_$suffix.txt"),
            txt.getBytes("UTF-8"))
          println(s"$n written")
        case None =>
          println(s"\n========== $n ==========")
          println(df.queryExecution.explainString(SimpleMode))
      }
    } finally spark.listenerManager.unregister(listener)
  }
}
