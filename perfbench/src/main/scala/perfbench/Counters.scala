package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Scheduler totals of one Spark job group. */
final class GroupStats {
  var jobs, stages, skippedStages, tasks, failedTasks = 0L
  var cpuNs, gcMs, schedDelayMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var rowsRead, bytesRead, rowsWritten, bytesWritten = 0L
  /** (start, end) of each finished job, epoch milliseconds. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Task durations (ms) per stage attempt, for skew. */
  val stageTaskMs = mutable.LinkedHashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]

  def add(o: GroupStats): Unit = {
    jobs += o.jobs; stages += o.stages; skippedStages += o.skippedStages
    tasks += o.tasks; failedTasks += o.failedTasks
    cpuNs += o.cpuNs; gcMs += o.gcMs; schedDelayMs += o.schedDelayMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes
    rowsRead += o.rowsRead; bytesRead += o.bytesRead
    rowsWritten += o.rowsWritten; bytesWritten += o.bytesWritten
    jobIntervals ++= o.jobIntervals
    o.stageTaskMs.foreach { case (k, v) => stageTaskMs.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
  }
}

/** The benchmark's one listener. Events are attributed to the job group
  * (`spark.jobGroup.id`) their job was started under, so jobs of any
  * other group on the same SparkContext are never counted against an
  * item. Every field sits behind this object's monitor; readers call
  * [[quiesce]] and then [[drain]], so a read never races the bus. */
final class Counters extends SparkListener {
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  /** jobId → (group, start ms, stage ids, stage ids submitted so far) */
  private val running = mutable.HashMap.empty[Int, (String, Long, Set[Int], mutable.Set[Int])]
  private var started, ended = 0L
  private var lastEventNs = System.nanoTime()

  private def stats(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventNs = System.nanoTime()
    started += 1
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    running(e.jobId) = (g, e.time, e.stageIds.toSet, mutable.Set.empty[Int])
    e.stageIds.foreach(stageGroup(_) = g)
    stats(g).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val id = e.stageInfo.stageId
    running.values.foreach { case (_, _, ids, submitted) => if (ids(id)) submitted += id }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    lastEventNs = System.nanoTime()
    stats(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val s = stats(stageGroup.getOrElse(e.stageId, ""))
    s.tasks += 1
    if (e.reason != Success) s.failedTasks += 1
    val info = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.diskBytesSpilled
      s.rowsRead += m.inputMetrics.recordsRead
      s.bytesRead += m.inputMetrics.bytesRead
      s.rowsWritten += m.outputMetrics.recordsWritten
      s.bytesWritten += m.outputMetrics.bytesWritten
      if (info != null) s.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
    }
    if (info != null)
      s.stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        info.duration
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    ended += 1
    running.remove(e.jobId).foreach { case (g, t0, ids, submitted) =>
      val s = stats(g)
      s.jobIntervals += ((t0, e.time))
      s.skippedStages += ids.size - submitted.size
    }
  }

  /** Wait until every started job has ended and no event arrived for
    * 50 ms: the bus delivers in order and a job's task ends precede its
    * job end, so everything of the finished work is then folded in.
    * False on timeout. */
  def quiesce(timeoutMs: Long = 5000): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var quiet = false
    while (!quiet && System.nanoTime() < deadline) {
      quiet = synchronized { started == ended && System.nanoTime() - lastEventNs > 50000000L }
      if (!quiet) Thread.sleep(10)
    }
    quiet
  }

  /** Remove and return the groups whose id satisfies `p`. */
  def drain(p: String => Boolean): Map[String, GroupStats] = synchronized {
    val hit = groups.filter { case (g, _) => p(g) }.toMap
    groups --= hit.keys
    hit
  }
}
