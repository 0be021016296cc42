package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Listener for traced passes: one record per job and one aggregate per
  * stage, each tagged with the pass that was open when Spark posted it,
  * plus the RDD blocks stored during the pass (`localCheckpoint` pins).
  *
  * The harness drains the listener bus before it closes a pass, so every
  * event of a pass carries that pass's tag.
  */
final class Recorder extends SparkListener {

  @volatile var pass: Int = -1

  final class Job(val id: Int, val pass: Int, val group: String, val start: Long,
      val callsite: String, val stages: Seq[Int]) {
    var end: Long = -1L
    var ok: Boolean = false
  }

  final class Stage(val id: Int) {
    var tasks = 0L; var failed = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var input = 0L; var output = 0L
  }

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  /** (pass, bytes) per stored RDD block. */
  val blocks = mutable.ArrayBuffer.empty[(Int, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, pass, group, e.time, site, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new Stage(e.stageId))
    s.tasks += 1
    if (e.reason != Success) s.failed += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.input += m.inputMetrics.bytesRead
      s.output += m.outputMetrics.bytesWritten
      // The scheduler-delay formula of Spark's own UI.
      val info = e.taskInfo
      val total = info.finishTime - info.launchTime
      s.schedMs += math.max(0L, total - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) synchronized {
      blocks += ((pass, b.memSize + b.diskSize))
    }
  }
}
