package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._

/** Records what the Spark engine did while it is registered: job
  * intervals, the stages each job owns, and one summary per finished task.
  * Events are only appended here; [[Harness]] attributes them to calls after
  * the listener bus has been drained.
  */
final class EngineListener extends SparkListener {
  import EngineListener._

  private val jobStarts = new ConcurrentLinkedQueue[JobStart]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  private val stages = new ConcurrentLinkedQueue[StageDone]()
  private val tasks = new ConcurrentLinkedQueue[TaskDone]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.add(JobStart(e.jobId, e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.add((e.jobId, e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(StageDone(i.stageId, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    val failed = info.failed || info.killed
    if (m == null) tasks.add(TaskDone(e.stageId, info.duration, 0, 0, 0, 0, 0,
      failed))
    else tasks.add(TaskDone(e.stageId, info.duration, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled, failed))
  }

  /** Takes every event recorded so far, leaving the listener empty. */
  def take(): Events = {
    def drain[A](q: ConcurrentLinkedQueue[A]): Seq[A] = {
      val out = Seq.newBuilder[A]
      var a = q.poll()
      while (a != null) { out += a; a = q.poll() }
      out.result()
    }
    Events(drain(jobStarts), drain(jobEnds).toMap, drain(stages),
      drain(tasks))
  }
}

object EngineListener {
  final case class JobStart(id: Int, time: Long, stageIds: Seq[Int])
  final case class StageDone(id: Int, submitted: Long, completed: Long)
  /** Times in ms except `cpuNs`; bytes as counted by Spark. */
  final case class TaskDone(stageId: Int, durationMs: Long, runMs: Long,
                            cpuNs: Long, gcMs: Long, shuffleBytes: Long,
                            spillBytes: Long, failed: Boolean)
  final case class Events(jobs: Seq[JobStart], jobEnds: Map[Int, Long],
                          stages: Seq[StageDone], tasks: Seq[TaskDone])
}
