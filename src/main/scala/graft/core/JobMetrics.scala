package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd, StageInfo}

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** The engine's one SparkListener: what the jobs carrying ONE job tag
  * did — per job (start, end, callsite, stages), per completed stage
  * (the row [[report]] prints) and in total. Jobs without the tag (a
  * concurrent query on another thread, a caller's own work) are never
  * counted. [[JobMetrics.tagged]] is the one way in: it tags the calling
  * thread's jobs (`SparkContext.addJobTag`, the `spark.job.tags`
  * property, which leaves the caller's job group alone) and registers a
  * fresh collector for the body. Every field sits behind this object's
  * monitor; a reader calls [[quiesce]] once the work has returned, then
  * the accessors, so a read never races the listener bus. */
private[graft] final class JobMetrics private (val tag: String,
    onInputRecords: Long => Unit) extends SparkListener {
  import JobMetrics._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageIds = mutable.HashSet.empty[Int]
  /** completed stages, each under the job that ran it */
  private val stages = mutable.LinkedHashMap.empty[Int, (Int, StageInfo)]
  private var shuffleBytes, shuffleRecords, outputRows, cpuNs, inputRecords = 0L
  // last arrival of any event (tagged or not); latest post time seen
  private var lastEventNs = System.nanoTime()
  private var lastPostMs = 0L

  private def seen(postMs: Long): Unit = {
    lastEventNs = System.nanoTime()
    lastPostMs = math.max(lastPostMs, postMs)
  }

  private def carriesTag(p: java.util.Properties): Boolean =
    p != null && Option(p.getProperty("spark.job.tags")).exists(_.split(',').contains(tag))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    seen(e.time)
    if (carriesTag(e.properties)) {
      jobs(e.jobId) = Job(e.jobId, e.time, e.properties.getProperty("callSite.short", ""), e.stageIds)
      stageIds ++= e.stageIds
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    seen(e.time)
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    seen(si.completionTime.getOrElse(0L))
    // a stage completes inside the job that submitted it, so it lists
    // under that (still running) job, not under later jobs that skip it
    jobs.values.filter(j => j.end < 0 && j.stageIds.contains(si.stageId)).lastOption
      .foreach(j => stages(si.stageId) = (j.id, si))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    seen(Option(e.taskInfo).fold(0L)(_.finishTime))
    val m = e.taskMetrics
    if (m != null && stageIds(e.stageId)) {
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      outputRows += m.outputMetrics.recordsWritten
      cpuNs += m.executorCpuTime
      val read = m.inputMetrics.recordsRead
      if (read > 0) {
        inputRecords += read
        onInputRecords(inputRecords)
      }
    }
  }

  /** Wait until every started tagged job has ended and the bus has
    * caught up with this call: it delivered an event posted after the
    * call, or it has been quiet for [[QuietNs]]. The bus delivers in
    * order and a job's task ends precede its end, so all of the work
    * that returned before the call is then folded in — also while other
    * threads keep the bus busy. False on timeout. */
  def quiesce(timeoutMs: Long = 5000): Boolean = synchronized {
    val calledMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def quiet = jobs.valuesIterator.forall(_.end >= 0) &&
      (lastPostMs > calledMs || System.nanoTime() - lastEventNs >= QuietNs)
    while (!quiet && System.nanoTime() < deadline) wait(10)
    quiet
  }

  def totals: Totals = synchronized {
    Totals(jobs.size, shuffleBytes, shuffleRecords, outputRows, cpuNs, inputRecords)
  }

  /** One line per job (wall, stage count, callsite; `running` when its
    * end never arrived) with its completed stages' rows beneath. */
  def report(): String = synchronized {
    val sb = new StringBuilder
    jobs.values.foreach { j =>
      val took = if (j.end < 0) "running" else f"${(j.end - j.start) / 1e3}%7.3f s"
      sb.append(f"  job ${j.id}%4d  $took  stages=${j.stageIds.size}%2d  ${j.site}%s%n")
      stages.values.collect { case (j.id, s) => s }.foreach { s =>
        val wall = (for (a <- s.completionTime; b <- s.submissionTime) yield (a - b) / 1e3)
          .getOrElse(-1.0)
        val m = s.taskMetrics
        sb.append(f"    stage ${s.stageId}%4d  ${wall}%7.3f s  tasks=${s.numTasks}%3d" +
          f"  run=${m.executorRunTime / 1e3}%7.2f  cpu=${m.executorCpuTime / 1e9}%7.2f" +
          f"  sR=${m.shuffleReadMetrics.totalBytesRead / 1024}%8dK" +
          f" sW=${m.shuffleWriteMetrics.bytesWritten / 1024}%8dK  ${s.name.takeWhile(_ != '\n')}%s%n")
      }
    }
    val walls = jobs.values.filter(_.end >= 0).map(j => (j.end - j.start) / 1e3).sum
    sb.append(f"  -- ${jobs.size} jobs, sum of job walls ${walls}%.3f s%n")
    sb.toString
  }
}

private[graft] object JobMetrics {
  final case class Job(id: Int, start: Long, site: String, stageIds: Seq[Int], end: Long = -1L)
  final case class Totals(jobs: Int, shuffleBytes: Long, shuffleRecords: Long,
      outputRows: Long, cpuNs: Long, inputRecords: Long)

  private val QuietNs = 50L * 1000000L
  private val tags = new AtomicLong

  /** Run `body` with the calling thread's jobs tagged and counted by a
    * fresh collector (threads that capture the caller's local
    * properties — broadcast and subquery execution — carry the tag
    * too). `onInputRecords` receives the running input-record total
    * after each tagged task that read records. The tag and the
    * listener are removed when `body` ends. */
  def tagged[T](sc: SparkContext, onInputRecords: Long => Unit = _ => ())(
      body: JobMetrics => T): T = {
    val m = new JobMetrics(s"graft-metrics-${tags.incrementAndGet()}", onInputRecords)
    sc.addSparkListener(m)
    sc.addJobTag(m.tag)
    try body(m) finally { sc.removeJobTag(m.tag); sc.removeSparkListener(m) }
  }
}
