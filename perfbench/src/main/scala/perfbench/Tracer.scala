package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Task metrics summed per Spark job group. The benchmark tags every call it
  * makes into the program with a job group (`<layer>.<name>/<step>`), so one
  * listener attributes all executor work to the call that launched it; jobs
  * that arrive without a group are counted as untagged. */
final class Tracer extends SparkListener {
  final class Totals {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs = 0L
    var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  }

  private val byTag = mutable.HashMap.empty[String, Totals]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private var untagged = 0L

  private def totals(tag: String): Totals = byTag.getOrElseUpdate(tag, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (tag.isEmpty) untagged += 1
    totals(tag).jobs += 1
    e.stageIds.foreach(stageTag(_) = tag)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    totals(stageTag.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals(stageTag.getOrElse(e.stageId, ""))
    t.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.inputBytes += m.inputMetrics.bytesRead
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.diskBytesSpilled
    }
  }

  def untaggedJobs: Long = synchronized(untagged)

  /** Sum of the totals of every tag that `keep` accepts. */
  def sum(keep: String => Boolean): Totals = synchronized {
    val s = new Totals
    byTag.foreach { case (tag, t) =>
      if (keep(tag)) {
        s.jobs += t.jobs; s.stages += t.stages; s.tasks += t.tasks
        s.runMs += t.runMs; s.cpuNs += t.cpuNs; s.gcMs += t.gcMs
        s.inputBytes += t.inputBytes; s.shuffleReadBytes += t.shuffleReadBytes
        s.shuffleWriteBytes += t.shuffleWriteBytes; s.spillBytes += t.spillBytes
      }
    }
    s
  }
}
