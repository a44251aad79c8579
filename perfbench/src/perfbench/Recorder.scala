package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

final case class TaskRec(stage: Int, durMs: Long, runMs: Long, peakMem: Long,
    bytesRead: Long, recordsWritten: Long, shuffleBytes: Long,
    shuffleRecords: Long, shuffleWriteNs: Long, diskSpill: Long, sortMs: Long)

final case class StageRec(id: Int, name: String, numTasks: Int,
    start: Long, end: Long)

final case class JobRec(id: Int, start: Long, end: Long, exec: Long,
    site: String, stageIds: Seq[Int])

final case class ExecRec(id: Long, root: Long, start: Long, end: Long,
    name: String, plan: String)

/** The benchmark's own Spark listener. It always keeps the largest task
  * `peakExecutionMemory` seen since the last [[reset]]; tasks, stages,
  * jobs and SQL executions are recorded only while `detail` is on, which
  * is what makes a run "traced". Times are the epoch milliseconds Spark
  * stamps on its events.
  */
final class Recorder extends SparkListener {
  @volatile var detail = false
  private var peak = 0L
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val jobStarts = mutable.LinkedHashMap.empty[Int, JobRec]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val execStarts = mutable.Map.empty[Long, ExecRec]
  private val execs = mutable.ArrayBuffer.empty[ExecRec]

  def reset(): Unit = synchronized {
    peak = 0L
    Seq(tasks, stages, jobs, execs).foreach(_.clear())
    jobStarts.clear(); execStarts.clear()
  }

  def peakBytes: Long = synchronized(peak)

  /** completed tasks, stages, jobs and SQL executions since [[reset]] */
  def snapshot: (Vector[TaskRec], Vector[StageRec], Vector[JobRec], Vector[ExecRec]) =
    synchronized((tasks.toVector, stages.toVector, jobs.toVector, execs.toVector))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      peak = math.max(peak, m.peakExecutionMemory)
      if (detail) {
        val sortMs = e.taskInfo.accumulables.collectFirst {
          case a if a.name.contains("sort time") => a.update
        }.flatten.collect { case v: java.lang.Long => v.longValue }.getOrElse(0L)
        tasks += TaskRec(e.stageId, e.taskInfo.duration, m.executorRunTime,
          m.peakExecutionMemory, m.inputMetrics.bytesRead,
          m.outputMetrics.recordsWritten, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleWriteMetrics.recordsWritten, m.shuffleWriteMetrics.writeTime,
          m.diskBytesSpilled, sortMs)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (detail) synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stages += StageRec(i.stageId, i.name, i.numTasks, s, c)
    }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (detail) synchronized {
      val p = Option(e.properties)
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      val site = p.flatMap(x => Option(x.getProperty("callSite.short")))
        .getOrElse(e.stageInfos.lastOption.map(_.name).getOrElse("?"))
      jobStarts(e.jobId) = JobRec(e.jobId, e.time, -1L, exec, site, e.stageIds)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (detail) synchronized {
      jobStarts.remove(e.jobId).foreach(j => jobs += j.copy(end = e.time))
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit =
    if (detail) synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          execStarts(s.executionId) = ExecRec(s.executionId,
            s.rootExecutionId.getOrElse(s.executionId), s.time, -1L,
            s.description, s.physicalPlanDescription)
        case x: SparkListenerSQLExecutionEnd =>
          execStarts.remove(x.executionId).foreach(r => execs += r.copy(end = x.time))
        case _ =>
      }
    }
}
