package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Closed-loop benchmark driver for one workload: a single thread runs the
  * workload's `graft.SparkEntry` queries in a fixed order, building each
  * query's DataFrame and forcing it with a noop write (as `graft.Bench`
  * does), and starts query N+1 only after query N has finished.
  *
  * A run sets up several times (session start plus one untimed pass each),
  * then times passes for `--seconds`. The first set-up pass writes every
  * query's output for the correctness gate; it runs the `--small` queries
  * a second time, so their outputs can be compared with each other, and a
  * third time on the reduced inputs in `--small-data`, where their oracles
  * are affordable. With `--trace 1` the timed passes alternate between
  * untraced and traced, and the window is extended until it holds at
  * least `MinTraced` traced passes, each between two untraced ones, so
  * that tracing overhead can be measured against the neighbouring passes.
  * A traced pass also records the planning phases of every executed plan,
  * and the run ends with the kernel and codec microbenchmarks. Everything
  * is kept in memory and written to `<out>/result.json` at the end; run.py
  * turns it into metrics.
  *
  * Usage: Harness --data DIR --small-data DIR --out DIR --queries g03,g15,...
  *   --small t10,t68 --seconds S --trace 0|1 --setups N --cores N --seed N
  */
object Harness {
  final case class Args(data: String, smallData: String, out: String, queries: Seq[String],
      small: Set[String], seconds: Double, trace: Boolean, setups: Int, cores: Int, seed: Long)

  /** Traced passes a traced run holds at least. */
  val MinTraced = 3

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def list(k: String): Seq[String] = kv.getOrElse(k, "").split(",").toSeq.filter(_.nonEmpty)
    Args(need("data"), need("small-data"), need("out"), list("queries"), list("small").toSet,
      need("seconds").toDouble, need("trace") == "1", need("setups").toInt, need("cores").toInt,
      need("seed").toLong)
  }

  // one clock for harness spans and listener events (which carry epoch ms)
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowNs: Long = epochMs0 * 1000000L + (System.nanoTime() - nano0)

  def session(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", localDir + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.sql.functions.install(spark)
    spark
  }

  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  final class Exec(val pass: String, val query: String, val startNs: Long,
      val buildNs: Long, val execNs: Long, val error: Option[String])

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val known = graft.SparkEntry.queries
    val fns = a.queries.map { id =>
      known.find(_._1.startsWith(id + "_")).getOrElse {
        System.err.println(s"unknown query id: $id"); sys.exit(2)
      }
    }
    val localDir = a.out + "/spark-local"
    Files.createDirectories(Paths.get(localDir))

    var spark: SparkSession = null
    var probe: Probe = null
    val execs = mutable.ArrayBuffer[Exec]()

    val outputs = a.out + "/outputs"
    val dumpErrors = mutable.LinkedHashMap[String, String]()

    /** One closed-loop pass; with `dump`, each query's output is written as
      * parquet instead of being discarded, and the `small` queries also run
      * a second time and once on the reduced inputs. */
    def runPass(pass: String, dump: Boolean = false): (Long, Long) = {
      val sc = spark.sparkContext
      sc.setLocalProperty(Probe.PassKey, pass)
      val start = nowNs
      fns.foreach { case (name, fn) =>
        val id = name.takeWhile(_ != '_')
        sc.setLocalProperty(Probe.QueryKey, id)
        val copies =
          if (dump && a.small(id)) Seq("" -> a.data, ".2" -> a.data, ".small" -> a.smallData)
          else Seq("" -> a.data)
        copies.foreach { case (copy, data) =>
          sc.setLocalProperty(Probe.PhaseKey, "build")
          val t0 = nowNs
          var t1 = 0L
          val err = try {
            val df = fn(spark, data)
            t1 = nowNs
            sc.setLocalProperty(Probe.PhaseKey, "exec")
            if (dump) df.coalesce(1).write.mode("overwrite").parquet(s"$outputs/$id$copy")
            else force(df)
            None
          } catch { case e: Throwable =>
            System.err.println(s"[perfbench] $id failed in pass $pass: $e")
            if (dump) dumpErrors(id + copy) = e.toString
            Some(e.toString)
          }
          val t2 = nowNs
          if (t1 == 0L) t1 = t2
          execs += new Exec(pass, id, t0, t1 - t0, t2 - t1, err)
        }
      }
      sc.setLocalProperty(Probe.QueryKey, null)
      sc.setLocalProperty(Probe.PhaseKey, null)
      (start, nowNs)
    }

    /** Waits until the listener queues have caught up: a marker job has
      * reached our listener and Spark's status store (a separate queue,
      * whose backlog would otherwise count as live heap). */
    var drains = 0
    def drain(): Unit = {
      drains += 1
      val token = Probe.DrainPrefix + drains
      val sc = spark.sparkContext
      sc.setLocalProperty(Probe.PassKey, token)
      sc.setJobGroup(token, token)
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      def stored: Boolean = sc.statusTracker.getJobIdsForGroup(token).forall(id =>
        sc.statusTracker.getJobInfo(id)
          .exists(_.status == org.apache.spark.JobExecutionStatus.SUCCEEDED))
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!(probe.sawDrain(token) && stored) && System.nanoTime() < deadline) Thread.sleep(2)
    }

    // set-up: session start plus one untimed pass, several times; the
    // first includes JVM start. The passes double as JIT warm-up.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = (1 to a.setups).map { i =>
      val t0 = if (i == 1) jvmStartMs * 1000000L else nowNs
      if (spark != null) spark.stop()
      spark = session(a.cores, localDir)
      probe = new Probe
      spark.sparkContext.addSparkListener(probe)
      runPass(s"setup-$i", dump = i == 1)
      (nowNs - t0) / 1e9
    }
    execs.clear()

    // heap the warmed-up driver JVM holds before the timed passes: used heap
    // after full collections, read at this fixed point of work. Spark's
    // context cleaner frees broadcast and checkpoint blocks only after a
    // collection finds them unreachable, so collect until the reading
    // settles. (An old-generation peak depends on when young collections
    // happen to promote and varied by a fifth between runs.)
    drain()
    def usedMb: Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var liveHeapMb = usedMb
    var settled = false
    var rounds = 0
    while (!settled && rounds < 10) {
      Thread.sleep(200)
      val next = usedMb
      settled = math.abs(next - liveHeapMb) < 0.5
      liveHeapMb = next
      rounds += 1
    }

    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val planProbe = new PlanProbe
    val windowEnd = System.nanoTime() + (a.seconds * 1e9).toLong
    var i = 0
    // a traced run goes on until it holds MinTraced traced passes and ends
    // on an untraced one (pass i is traced when i is odd)
    def more: Boolean = System.nanoTime() < windowEnd ||
      (a.trace && (i < 2 * MinTraced + 1 || i % 2 == 0))
    while (more) {
      val traced = a.trace && i % 2 == 1
      if (traced) spark.listenerManager.register(planProbe)
      val (s, e) = runPass(s"p$i")
      // in a traced run every pass, not only a traced one, waits for the
      // listener queues afterwards, so both kinds start from the same state
      if (a.trace) drain()
      if (traced) spark.listenerManager.unregister(planProbe)
      passes += Map("pass" -> s"p$i", "traced" -> traced, "start_ns" -> s, "end_ns" -> e)
      i += 1
    }

    val oracle = fns.map { case (name, _) =>
      name.takeWhile(_ != '_') -> graft.SparkEntry.oracleSql.getOrElse(name, "")
    }.toMap

    val (kernels, kernelSpans) =
      if (a.trace) Kernels.run(spark, a.data, a.out + "/codec", a.seed) else (Map.empty, Nil)
    drain()

    val result = Map[String, Any](
      "cores" -> a.cores,
      "setup_s" -> setupS,
      "passes" -> passes.toSeq,
      "execs" -> execs.toSeq.map(x => Map("pass" -> x.pass, "query" -> x.query,
        "start_ns" -> x.startNs, "build_ns" -> x.buildNs, "exec_ns" -> x.execNs,
        "error" -> x.error.orNull)),
      "jobs" -> probe.jobRecords,
      "stages" -> probe.stageRecords,
      "plans" -> planProbe.planRecords,
      "live_heap_mb" -> liveHeapMb,
      "dump_errors" -> dumpErrors.toMap,
      "oracle_sql" -> oracle,
      "kernels" -> kernels,
      "kernel_spans" -> kernelSpans)
    Files.writeString(Paths.get(a.out + "/result.json"), Json.write(result))
    spark.stop()
  }
}

/** Minimal JSON writer for the harness's maps, sequences and scalars. */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(x: Any): Unit = x match {
      case null | None => sb ++= "null"
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case n: Int => sb ++= n.toString
      case n: Long => sb ++= n.toString
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        m.zipWithIndex.foreach { case ((k, y), i) =>
          if (i > 0) sb += ','
          str(k.toString); sb += ':'; go(y)
        }
        sb += '}'
      case s: Iterable[_] =>
        sb += '['
        s.zipWithIndex.foreach { case (y, i) => if (i > 0) sb += ','; go(y) }
        sb += ']'
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
