package perfbench

import org.apache.spark.SparkContext

import scala.collection.mutable

/** One traced interval. Times are epoch nanoseconds; `parent` is -1 at
  * the root. `trace` is the pass index, shared by every span of a pass. */
final case class Span(id: Int, parent: Int, trace: Int, name: String, item: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the single client thread. Spans nest by
  * call structure: pass → item → construct/execute/exec → source.load /
  * sink.write; Spark jobs are attached afterwards by [[addJobs]]. A span
  * opened with a `group` also runs its jobs under that Spark job group. */
final class Tracer(sc: SparkContext) {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def now: Long = System.nanoTime() + offsetNs
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var trace = 0
  private var item = ""

  def span[T](name: String, group: Option[String] = None)(body: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, parent, trace, name, item, now, 0L)
    stack = id :: stack
    val prevGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
    group.foreach(g => sc.setJobGroup(g, g))
    try body
    finally {
      if (group.isDefined) prevGroup.fold(sc.clearJobGroup())(g => sc.setJobGroup(g, g))
      stack = stack.tail
      spans(id) = spans(id).copy(endNs = now)
    }
  }

  def pass[T](index: Int)(body: => T): T = { trace = index; span("pass")(body) }

  def item[T](name: String, group: String)(body: => T): T = {
    item = name
    try span("item", Some(group))(body) finally item = ""
  }

  /** Attach finished jobs (epoch-ms intervals) of `itemName` in pass
    * `traceIdx`, each under the innermost span of that item that
    * contains its start. */
  def addJobs(traceIdx: Int, itemName: String, jobs: Seq[(Long, Long)]): Unit = {
    val mine = spans.filter(s => s.trace == traceIdx && s.item == itemName).toSeq
    jobs.foreach { case (s0, s1) =>
      val st = s0 * 1000000L
      val holder = mine.filter(s => s.startNs <= st && st <= s.endNs).sortBy(-_.startNs).headOption
      holder.foreach { h =>
        spans += Span(spans.size, h.id, traceIdx, "job", itemName, st, math.max(st, s1 * 1000000L))
      }
    }
  }
}

object Trace {
  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) total += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of it its
    * child spans cover. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.id -> (s.durNs - covered(c, s.startNs, s.endNs))
    }.toMap
  }
}
