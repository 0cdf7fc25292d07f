package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** What one completed Spark stage cost. `group` is the job group the
  * benchmark set around the call that ran it (a span id), or 0 if none.
  */
final case class StageRec(
    stageId: Int, attempt: Int, group: Long,
    submitMs: Long, completeMs: Long, numTasks: Int,
    runMs: Long, cpuNs: Long, gcMs: Long,
    inputBytes: Long, inputRecords: Long, outputBytes: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    taskRunMs: Array[Long]) {
  def wallMs: Long = completeMs - submitMs

  /** Slowest task over the median task, 1 for a stage of one task. */
  def skew: Double =
    if (taskRunMs.length < 2) 1.0
    else {
      val med = Stats.quantile(taskRunMs.toSeq.map(_.toDouble), 0.5)
      if (med <= 0) 1.0 else taskRunMs.max / med
    }
}

/** Collects stage records and ties each stage to the job group of the
  * job that submitted it. Registered only in the traced run.
  */
final class StageListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, java.lang.Long]()
  private val taskTimes = new ConcurrentHashMap[(Int, Int), ArrayBuffer[Long]]()
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toLongOption).getOrElse(0L)
    e.stageIds.foreach(id => stageGroup.putIfAbsent(id, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) {
      val buf = taskTimes.computeIfAbsent((e.stageId, e.stageAttemptId), _ => ArrayBuffer.empty[Long])
      buf.synchronized { buf += e.taskMetrics.executorRunTime }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val tasks = Option(taskTimes.remove((i.stageId, i.attemptNumber())))
      .map(b => b.synchronized(b.toArray)).getOrElse(Array.empty[Long])
    done.add(StageRec(
      i.stageId, i.attemptNumber(), Option(stageGroup.get(i.stageId)).map(_.longValue).getOrElse(0L),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled, tasks))
  }

  def stages: Seq[StageRec] = done.asScala.toSeq
}
