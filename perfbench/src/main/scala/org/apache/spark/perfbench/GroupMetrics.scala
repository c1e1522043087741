package org.apache.spark.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-job-group execution counters for the traced benchmark run.
  *
  * The benchmark tags every layer call (table resolution, query
  * construction, planning, execution, one model of the DAG) with its own
  * Spark job group; this listener files each job, stage and task under the
  * group that was set when the job was submitted.
  *
  * It lives under `org.apache.spark` for one call: the listener bus is
  * asynchronous, and [[drain]] needs `SparkContext.listenerBus`
  * (private[spark]) to wait until every finished task has been delivered,
  * so that the tail of one operation is not filed under the next.
  */
final class GroupMetrics extends SparkListener {

  final class Counts {
    var jobs = 0L
    var singleTaskJobs = 0L
    var stages = 0L
    var tasks = 0L
    var taskRunMs = 0L
    var taskCpuMs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var peakExecMemBytes = 0L
    var inputBytes = 0L
  }

  /** One job as a trace span: its group, and start/end on the wall clock. */
  final case class JobSpan(id: Int, group: String, startMs: Long, endMs: Long,
                           stages: Int, tasks: Int)

  private val byGroup = mutable.HashMap.empty[String, Counts]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val jobTasks = mutable.HashMap.empty[Int, Int]
  private val jobStages = mutable.HashMap.empty[Int, Int]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val spans = mutable.ArrayBuffer.empty[JobSpan]

  private def counts(group: String): Counts = byGroup.getOrElseUpdate(group, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID)))
      .getOrElse("")
    jobGroup(e.jobId) = group
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    counts(group).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach { job =>
      counts(jobGroup(job)).stages += 1
      jobStages(job) = jobStages.getOrElse(job, 0) + 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { job =>
      val c = counts(jobGroup(job))
      c.tasks += 1
      jobTasks(job) = jobTasks.getOrElse(job, 0) + 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuMs += m.executorCpuTime / 1000000L
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val group = jobGroup.getOrElse(e.jobId, "")
    val tasks = jobTasks.getOrElse(e.jobId, 0)
    if (tasks == 1) counts(group).singleTaskJobs += 1
    spans += JobSpan(e.jobId, group, jobStart.getOrElse(e.jobId, e.time), e.time,
      jobStages.getOrElse(e.jobId, 0), tasks)
  }

  /** Waits until the bus has delivered every event posted so far. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def group(name: String): Counts = synchronized(byGroup.getOrElse(name, new Counts))

  def jobSpans: Seq[JobSpan] = synchronized(spans.toList)
}
