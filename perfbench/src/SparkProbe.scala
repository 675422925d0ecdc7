package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Job, stage and task counters of one Spark context, read as deltas
  * around the calls the benchmark makes. Attached only in traced passes. */
final class SparkProbe extends SparkListener {
  private var jobs = 0L
  private var stages = 0L
  private val tasks = ArrayBuffer.empty[TaskMetricsRow]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskMetricsRow(
      durationMs = e.taskInfo.duration,
      runMs = m.executorRunTime,
      cpuNs = m.executorCpuTime,
      gcMs = m.jvmGCTime,
      shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
      shuffleRead = m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      spill = m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  def snapshot(sc: SparkContext): SparkProbe.Snap = {
    org.apache.spark.ListenerBusShim.drain(sc)
    synchronized(SparkProbe.Snap(jobs, stages, tasks.size))
  }

  def tasksBetween(a: SparkProbe.Snap, b: SparkProbe.Snap): Seq[TaskMetricsRow] =
    synchronized(tasks.slice(a.tasks, b.tasks).toSeq)
}

final case class TaskMetricsRow(durationMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                                shuffleWrite: Long, shuffleRead: Long, spill: Long)

object SparkProbe {
  final case class Snap(jobs: Long, stages: Long, tasks: Int)

  /** Totals over the tasks of one window, plus job and stage counts. */
  final case class Window(jobs: Long, stages: Long, tasks: Seq[TaskMetricsRow]) {
    def shuffleMb: Double = tasks.map(t => t.shuffleWrite).sum / 1048576.0
  }

  def window(p: SparkProbe, a: Snap, b: Snap): Window =
    Window(b.jobs - a.jobs, b.stages - a.stages, p.tasksBetween(a, b))
}
