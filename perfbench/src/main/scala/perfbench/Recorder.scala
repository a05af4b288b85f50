package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark listener that sums task CPU always and, when tracing, keeps one
  * record per job with the metrics of the tasks it ran. A job belongs to
  * the span whose id was the job group when the job was submitted. */
final class Recorder(traced: Boolean) extends SparkListener {

  final class Job(val id: Int, val group: String, val site: String, val startMs: Long) {
    var endMs: Long = startMs
    var stages, tasks, emptyTasks = 0L
    var taskMs, cpuNs, gcMs, waitMs = 0L
    var shuffleRead, shuffleWrite, spill, rowsOut, bytesOut = 0L
  }

  private var cpuTotalNs = 0L
  private val jobList = mutable.ArrayBuffer.empty[Job]
  private val stageJob = mutable.HashMap.empty[Int, Job]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]

  /** Executor CPU of every task that has ended, in ns. Call [[drain]] first. */
  def cpuNs: Long = synchronized(cpuTotalNs)
  def jobs: Seq[Job] = synchronized(jobList.toSeq)

  /** Waits until the listener has seen every event posted so far. */
  def drain(sc: SparkContext): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val job = new Job(e.jobId, group, site, e.time)
    jobList += job
    e.stageIds.foreach(stageJob(_) = job)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (traced) synchronized {
    jobList.reverseIterator.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (traced) synchronized {
    val s = e.stageInfo
    stageSubmitMs(s.stageId) = s.submissionTime.getOrElse(System.currentTimeMillis())
    stageJob.get(s.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      cpuTotalNs += m.executorCpuTime
      if (traced) stageJob.get(e.stageId).foreach { j =>
        j.tasks += 1
        j.taskMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
        j.rowsOut += m.outputMetrics.recordsWritten
        j.bytesOut += m.outputMetrics.bytesWritten
        if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0) j.emptyTasks += 1
        stageSubmitMs.get(e.stageId).foreach(s => j.waitMs += math.max(0L, e.taskInfo.launchTime - s))
      }
    }
  }
}
