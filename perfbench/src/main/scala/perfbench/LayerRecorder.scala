package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what the Spark runtime did below the benchmark's spans: jobs,
  * stages, task metrics and Catalyst phase times. It is registered only
  * during traced passes and keeps everything in memory; [[Harness]] turns
  * it into per-pass layer metrics and child spans once the bus is drained.
  * Times are epoch milliseconds, the clock Spark stamps its events with. */
final class LayerRecorder extends SparkListener with QueryExecutionListener {
  import LayerRecorder._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val plans = mutable.ArrayBuffer.empty[Plan]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = Job(e.jobId, site, e.time, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val st = stages.getOrElseUpdate(i.stageId, Stage(i.stageId))
    st.numTasks = i.numTasks
    st.startMs = i.submissionTime.getOrElse(0L)
    st.endMs = i.completionTime.getOrElse(st.startMs)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.getOrElseUpdate(e.stageId, Stage(e.stageId))
    st.tasks += 1
    if (e.reason != Success) st.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      st.cpuNs += m.executorCpuTime
      st.runMs += m.executorRunTime
      st.gcMs += m.jvmGCTime
      st.inputBytes += m.inputMetrics.bytesRead
      st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      st.spillBytes += m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPlan(qe)

  private def recordPlan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.view
      .filterKeys(PlanPhases.contains).values.toSeq
    if (phases.nonEmpty) synchronized {
      plans += Plan(phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum)
    }
  }

  /** Jobs, stages and plans of the window [fromMs, toMs], by start time. */
  def window(fromMs: Long, toMs: Long): Window = synchronized {
    def in(t: Long) = t >= fromMs && t <= toMs
    val js = jobs.values.filter(j => in(j.startMs)).toVector
    val ids = js.map(_.id).toSet
    val ss = stages.values.filter(s => stageJob.get(s.id).exists(ids)).toVector
    Window(js, ss, plans.filter(p => in(p.startMs)).toVector, stageJob.toMap)
  }
}

object LayerRecorder {
  /** The Catalyst phases that make up planning; parsing is not timed
    * here because the benchmark builds plans through the Dataset API. */
  val PlanPhases: Set[String] = Set(
    QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
    QueryPlanningTracker.PLANNING)

  /** `site` is the call site Spark names the job's result stage after. */
  final case class Job(id: Int, site: String, startMs: Long, var endMs: Long)

  final case class Stage(id: Int) {
    var numTasks = 0
    var startMs = 0L
    var endMs = 0L
    var tasks = 0
    var failedTasks = 0
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }

  final case class Plan(startMs: Long, durationMs: Long)

  final case class Window(jobs: Vector[Job], stages: Vector[Stage],
      plans: Vector[Plan], stageJob: Map[Int, Int])
}
