package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side records of one session, read through Spark's public listener
  * APIs. Jobs and stages are tagged with the local properties the harness
  * sets before each call (pass, query, phase); task metrics are summed per
  * stage as they arrive, so memory grows with stages, not tasks.
  */
final class Probe extends SparkListener {
  import Probe._

  final class Stage(val id: Int, val tag: Tag, val numTasks: Int) {
    var submitMs = 0L; var completeMs = 0L
    var tasks = 0; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inputB = 0L; var shuffleWB = 0L; var shuffleRB = 0L
    var spillB = 0L; var resultB = 0L; var maxTaskMs = 0L
  }
  final class Job(val id: Int, val tag: Tag, val startMs: Long, val stageIds: Seq[Int]) {
    @volatile var endMs = 0L
  }

  private val stages = mutable.LinkedHashMap[Int, Stage]()
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  @volatile private var drained = Set.empty[String]

  private def tagOf(p: java.util.Properties): Tag =
    if (p == null) Tag("", "", "")
    else Tag(p.getProperty(PassKey, ""), p.getProperty(QueryKey, ""),
      p.getProperty(PhaseKey, ""))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.jobId, tagOf(e.properties), e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      if (j.tag.pass.startsWith(DrainPrefix)) drained += j.tag.pass
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val s = new Stage(i.stageId, tagOf(e.properties), i.numTasks)
    s.submitMs = i.submissionTime.getOrElse(0L)
    stages(i.stageId) = s
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get(i.stageId).foreach { s =>
      s.completeMs = i.completionTime.getOrElse(0L)
      if (s.submitMs == 0L) s.submitMs = i.submissionTime.getOrElse(0L)
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      s.maxTaskMs = math.max(s.maxTaskMs, e.taskInfo.duration)
      if (m != null) {
        s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime; s.resultB += m.resultSize
        s.inputB += m.inputMetrics.bytesRead
        s.shuffleWB += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRB += m.shuffleReadMetrics.totalBytesRead
        s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Whether the marker job `token` has been seen: listener events of one
    * queue arrive in order, so every event posted before it was delivered.
    */
  def sawDrain(token: String): Boolean = drained.contains(token)

  def jobRecords: Seq[Map[String, Any]] = synchronized {
    jobs.values.filterNot(_.tag.pass.startsWith(DrainPrefix)).map { j =>
      j.tag.fields ++ Map("job" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "stages" -> j.stageIds)
    }.toSeq
  }
  def stageRecords: Seq[Map[String, Any]] = synchronized {
    stages.values.filterNot(_.tag.pass.startsWith(DrainPrefix)).map { s =>
      s.tag.fields ++ Map("stage" -> s.id, "num_tasks" -> s.numTasks, "tasks" -> s.tasks,
        "submit_ms" -> s.submitMs, "complete_ms" -> s.completeMs, "run_ms" -> s.runMs,
        "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "input_b" -> s.inputB,
        "shuffle_write_b" -> s.shuffleWB, "shuffle_read_b" -> s.shuffleRB,
        "spill_b" -> s.spillB, "result_b" -> s.resultB, "max_task_ms" -> s.maxTaskMs)
    }.toSeq
  }
}

object Probe {
  val PassKey = "perfbench.pass"
  val QueryKey = "perfbench.query"
  val PhaseKey = "perfbench.phase"
  val DrainPrefix = "drain-"

  final case class Tag(pass: String, query: String, phase: String) {
    def fields: Map[String, Any] = Map("pass" -> pass, "query" -> query, "phase" -> phase)
  }
}

/** Traced passes only: the planning phases (analysis, optimization,
  * planning) of every executed Dataset action, from QueryExecution's
  * tracker. Callbacks arrive asynchronously, so records carry the phase
  * timestamps and are matched to passes by time afterwards.
  */
final class PlanProbe extends QueryExecutionListener {
  private val records = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit =
    records.add(Map("phases" -> qe.tracker.phases.toSeq.map { case (name, p) =>
      Map[String, Any]("phase" -> name, "start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs)
    }))

  def planRecords: Seq[Map[String, Any]] = records.asScala.toSeq
}
