package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Work one job group did, summed over its tasks. */
case class GroupStats(
    jobs: Int,
    busyS: Double,           // union of the group's job intervals
    taskS: Double,           // summed executor run time
    shuffleWriteBytes: Long,
    spillBytes: Long,
    peakTaskMemBytes: Long,
    tasksFailed: Int,
    skew: Double)            // max / median task run time, largest stage

/** Per job group task metrics, keyed by the `spark.jobGroup.id` property
  * that `SparkContext.setJobGroup` sets. Events arrive on the listener bus
  * and may be partial: a job can end without its start having been seen
  * (the listener was added mid-job), a task can end with no metrics (it
  * failed), and a stage can run under no group. Such events are counted
  * where they can be and otherwise ignored; they never throw.
  */
final class LayerListener extends SparkListener {
  private final class Acc {
    var jobs = 0
    var taskMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var peakMem = 0L
    var tasksFailed = 0
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  }

  private val accs = mutable.Map.empty[String, Acc]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(LayerListener.NoGroup)

  private def acc(g: String): Acc = accs.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    jobStart(e.jobId) = (g, e.time)
    e.stageIds.foreach(stageGroup(_) = g)
    acc(g).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (e.properties != null)
      stageGroup.getOrElseUpdate(e.stageInfo.stageId, groupOf(e.properties))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, LayerListener.NoGroup))
    if (e.taskInfo != null && e.taskInfo.failed) a.tasksFailed += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskMs += m.executorRunTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) => acc(g).intervals += ((t0, e.time)) }
  }

  /** Stats of group `g` (all zero if it ran nothing). */
  def stats(g: String): GroupStats = synchronized {
    accs.get(g) match {
      case None => GroupStats(0, 0, 0, 0, 0, 0, 0, 0)
      case Some(a) =>
        val largest = a.stageTaskMs.values.toSeq.sortBy(-_.sum).headOption
        val skew = largest.filter(_.nonEmpty).map { ts =>
          val s = ts.sorted
          val med = (s((s.length - 1) / 2) + s(s.length / 2)) / 2.0
          if (med > 0) s.last / med else 1.0
        }.getOrElse(0.0)
        GroupStats(a.jobs, LayerListener.unionSeconds(a.intervals.toSeq), a.taskMs / 1e3,
          a.shuffleWrite, a.spill, a.peakMem, a.tasksFailed, skew)
    }
  }

  def reset(): Unit = synchronized {
    accs.clear(); stageGroup.clear(); jobStart.clear()
  }
}

object LayerListener {
  val NoGroup = "(none)"

  /** Total length in seconds of the union of [start, end) ms intervals. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
}
