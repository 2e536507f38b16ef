package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Task metrics of one (job, group) cell. */
final class GroupTotals {
  var tasks = 0L
  var taskMs = 0L
  var fetchWaitMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillDiskBytes = 0L
  var failedTasks = 0L
  var jobs = 0L
  val durations = mutable.ArrayBuffer.empty[Long]

  /** Longest task over the median task; 1 when there is nothing to compare. */
  def skew: Double =
    if (durations.isEmpty) 1.0
    else {
      val s = durations.sorted
      val med = s(s.size / 2).toDouble
      if (med <= 0) 1.0 else s.last / med
    }

  def metrics: Map[String, Double] = Map(
    "task_s" -> taskMs / 1e3,
    "fetch_wait_s" -> fetchWaitMs / 1e3,
    "gc_s" -> gcMs / 1e3,
    "shuffle_write_mb" -> shuffleWriteBytes / 1e6,
    "spill_mb" -> spillDiskBytes / 1e6,
    "task_skew" -> skew,
    "failed_tasks" -> failedTasks.toDouble)

  def toMap: Map[String, Any] = metrics ++ Map(
    "tasks" -> tasks, "jobs" -> jobs, "shuffle_read_mb" -> shuffleReadBytes / 1e6)
}

/** Stage-metrics ledger: every task's metrics, summed per (benchmark job,
  * Spark job group). The benchmark tags its jobs through the `perfbench.job`
  * local property; groups are whatever `setJobGroup` the code under test or
  * the benchmark set. */
final class Ledger extends SparkListener {
  private val stageKey = mutable.Map.empty[Int, (String, String)]
  private val cells = mutable.LinkedHashMap.empty[(String, String), GroupTotals]

  private def cell(k: (String, String)) = cells.getOrElseUpdate(k, new GroupTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val job = p.flatMap(x => Option(x.getProperty(Ledger.JobProperty))).getOrElse("-")
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    val c = cell((job, group))
    c.jobs += 1
    e.stageIds.foreach(id => stageKey(id) = (job, group))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = cell(stageKey.getOrElse(e.stageId, ("-", "none")))
    c.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillDiskBytes += m.diskBytesSpilled
      c.durations += e.taskInfo.duration
    }
  }

  /** Cells of one benchmark job, by group. */
  def forJob(job: String): Map[String, GroupTotals] = synchronized {
    cells.collect { case ((j, g), t) if j == job => g -> t }.toMap
  }

  def snapshot: Map[String, Any] = synchronized {
    cells.map { case ((j, g), t) => s"$j/$g" -> t.toMap }.toMap
  }
}

object Ledger {
  val JobProperty = "perfbench.job"
}
