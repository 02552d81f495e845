package lakebench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Job, stage and task accounting per job group, from the benchmark's own
  * listener. A traced operation runs its construction under the group
  * `<id>:c` and its action under `<id>:a`, so every job, stage and task is
  * charged to exactly one operation and one phase. Events arrive on Spark's
  * asynchronous listener bus; read the totals only after [[drain]].
  */
final class Trace extends SparkListener {
  final class Group {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inputBytes = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
    var spill = 0L
    /** (start, end) wall-clock millis of each finished job */
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val groups = mutable.HashMap.empty[String, Group]
  private val jobGroup = mutable.HashMap.empty[Int, (String, Long)]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def group(g: String): Group = groups.getOrElseUpdate(g, new Group)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("untraced")
    jobGroup(e.jobId) = (g, e.time)
    e.stageIds.foreach(stageGroup(_) = g)
    group(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, start) =>
      group(g).jobSpans += ((start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(group(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = group(stageGroup.getOrElse(e.stageId, "untraced"))
    g.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      g.runMs += m.executorRunTime
      g.cpuNs += m.executorCpuTime
      g.gcMs += m.jvmGCTime
      g.inputBytes += m.inputMetrics.bytesRead
      g.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      g.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      g.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def drain(sc: org.apache.spark.SparkContext): Unit =
    org.apache.spark.LakebenchBus.drain(sc)

  def get(g: String): Group = synchronized(groups.getOrElse(g, new Group))
}

object Trace {
  /** Milliseconds of the window [from, to] covered by none of `spans`:
    * the driver-side part of an action. */
  def uncoveredMs(from: Long, to: Long, spans: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var cursor = from
    spans.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        val lo = math.max(s, cursor)
        if (e > lo) { covered += e - lo; cursor = e }
      }
    math.max(0L, (to - from) - covered)
  }
}
