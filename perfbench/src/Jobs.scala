package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Per job group totals. Groups are named `<layer>/<call>#<n>`. */
final class GroupStats {
  var jobs = 0
  val stages = mutable.Set.empty[Int]
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // (start ms, end ms)
  val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)] // (launch ms, finish ms)
}

/** Records jobs, stages and task metrics of every Spark job by job group. */
final class JobListener extends SparkListener {
  private val groups = mutable.Map.empty[String, GroupStats]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobGroup = mutable.Map.empty[Int, (String, Long)]

  private def g(name: String) = groups.getOrElseUpdate(name, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val name = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("untagged")
    g(name).jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = name)
    jobGroup(e.jobId) = (name, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (name, t0) => g(name).jobSpans += ((t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = g(stageGroup.getOrElse(e.stageId, "untagged"))
    s.stages += e.stageId
    s.tasks += 1
    s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    s.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
    }
  }

  def jobs(group: String): Int = synchronized(groups.get(group).map(_.jobs).getOrElse(0))

  /** Task time of a group over the time during which at least one of its
    * tasks ran: the mean number of its tasks running at once.
    */
  def concurrency(group: String): Double = synchronized {
    val spans = groups.get(group).map(_.taskSpans.toSeq).getOrElse(Nil)
    spans.map { case (a, b) => b - a }.sum.toDouble / math.max(1L, Stats.covered(spans))
  }

  /** Groups whose name starts with `prefix`. */
  def select(prefix: String): Seq[GroupStats] = synchronized(
    groups.iterator.collect { case (k, v) if k.startsWith(prefix) => v }.toList)

  def reset(): Unit = synchronized { groups.clear(); stageGroup.clear(); jobGroup.clear() }
}
