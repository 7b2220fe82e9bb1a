package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

final case class JobRec(jobId: Int, group: String, startMs: Long, var endMs: Long,
                        stageIds: Seq[Int])

/** Aggregated task metrics of one completed stage attempt. */
final case class StageRec(stageId: Int, attempt: Int, tasks: Int, startMs: Long, endMs: Long,
                          runMs: Long, cpuNs: Long, gcMs: Long,
                          shuffleRecords: Long, shuffleBytes: Long, fetchWaitMs: Long,
                          spillBytes: Long, inputRecords: Long, outputBytes: Long)

/** The benchmark's own listener: every job with its job group, and every
  * completed stage with its task metrics. Attached only for traced rounds. */
final class Probe extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.ArrayBuffer[StageRec]()
  /** Stage id → the first job that listed it. */
  val stageJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, group, e.time, e.time, e.stageIds)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) stages += StageRec(si.stageId, si.attemptNumber(), si.numTasks,
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.recordsWritten, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten)
  }
}
