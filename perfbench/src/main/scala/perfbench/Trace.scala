package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments, registered from outside the engine: a
  * SparkListener for jobs, stages and tasks, and a QueryExecutionListener
  * for the planning phases. Both only buffer events on the listener bus
  * thread; the harness drains the bus and aggregates after each pass. */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val tasks = mutable.ArrayBuffer.empty[Task]
  val plans = mutable.ArrayBuffer.empty[Plan]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); tasks.clear(); plans.clear(); stageJob.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, group, e.time)
    // a stage belongs to the first job that lists it: later jobs list
    // it again only as skipped, already-computed work
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages += Stage(i.stageId, stageJob.getOrElse(i.stageId, -1),
      i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += Task(stageJob.getOrElse(e.stageId, -1), e.taskInfo.launchTime,
        e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled)
  }

  private def plan(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty)
      plans += Plan(ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plan(qe)
}

object Trace {
  final case class Job(id: Int, group: String, start: Long, var end: Long = -1L)
  final case class Stage(id: Int, job: Int, submit: Long, done: Long)
  final case class Task(job: Int, launch: Long, finish: Long, runMs: Long,
                        cpuNs: Long, inBytes: Long, inRecs: Long,
                        outBytes: Long, shWrite: Long, shRead: Long, spill: Long)
  final case class Plan(start: Long, ms: Long)
}
