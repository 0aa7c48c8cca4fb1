package graft.core

/** Flow-lifecycle event hooks — the reference's symfony-dispatcher event
  * surface (`src/Events/YaEtlEvent.php:17-37`, `docs/events.md:52-149`):
  * `flow.start / progress / success / fail / flush`.
  *
  * Progress in the reference fires every `progressMod` (default 1024)
  * record iterations of a single-threaded pump. The distributed analog
  * is per-task completion: [[Pipeline.exec]] tags its own jobs and its
  * [[JobMetrics]] collector reports the cumulative records READ by their
  * finished tasks — same UX contract (a monotonically growing record
  * count), sampled at task granularity instead of a per-record modulo,
  * so it costs nothing on the hot path. Records read is the analog of
  * the reference's per-record iteration counter at extractors (shuffle
  * or output rows would count a record once per stage it crosses), and
  * jobs of other threads on the same SparkContext never tick it. The
  * last tick lands before `onSuccess`.
  */
trait PipelineEvents {
  def onStart(): Unit = ()
  /** Cumulative records produced by finished tasks so far. */
  def onProgress(recordsSoFar: Long): Unit = ()
  /** One per sink write, after its job commits (the reference's
    * per-loader `flush` notification). */
  def onFlush(sinkIndex: Int): Unit = ()
  /** The reference's `flow.continue` (`docs/events.md:87-97`: fired when
    * a qualifier skips a record). Record-at-a-time events become one
    * set-at-a-time notification: fired once per exec, after the writes,
    * with the TOTAL records skipped by non-truncating qualifiers (read
    * off the per-qualifier in/out observation counters). Not fired when
    * nothing was skipped. */
  def onContinue(skipped: Long): Unit = ()
  /** The reference's `flow.break` (`docs/events.md:99-109`): fired once
    * per exec when the stream was truncated — a truncating qualifier was
    * declared or a targeted interrupt actually fired — i.e. exactly when
    * the report's status turns Dirty. */
  def onBreak(): Unit = ()
  def onSuccess(report: PipelineReport): Unit = ()
  def onFail(error: Throwable): Unit = ()
}

object PipelineEvents {
  /** No-op default. */
  object Silent extends PipelineEvents

  /** Console reporter — the reference's `ProgressBarSubscriber`
    * (`src/Events/ProgressBarSubscriber.php:24-212`) reduced to its
    * observable behavior: a line per lifecycle event, progress ticks. */
  final class Console(out: String => Unit = Console.stdout) extends PipelineEvents {
    override def onStart(): Unit = out("[graft] flow start")
    override def onProgress(n: Long): Unit = out(s"[graft] progress: $n records")
    override def onFlush(i: Int): Unit = out(s"[graft] flush sink #$i")
    override def onContinue(n: Long): Unit = out(s"[graft] continue: $n records skipped")
    override def onBreak(): Unit = out("[graft] break: stream truncated")
    override def onSuccess(r: PipelineReport): Unit =
      out(s"[graft] success in ${r.durationMs} ms — ${r.pretty}")
    override def onFail(e: Throwable): Unit = out(s"[graft] FAIL: ${e.getMessage}")
  }
  object Console { private def stdout(s: String): Unit = println(s) }
}
