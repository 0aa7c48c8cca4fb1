package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

/** Per-layer figures from a traced run, and the JSON the JVM hands back. */
object Report {

  /** Data files (no `_SUCCESS`, no checksums) under `dir`, recursively. */
  def dataFiles(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0L
      else 1L
    walk(new File(dir))
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  val families: Seq[String] = Seq("tpch", "relational", "events")
  val spanNames: Seq[String] =
    Seq("pass", "item", "construct", "execute", "exec", "source.load", "sink.write", "job")

  /** Every per-layer metric, summed over the traced passes and divided by
    * their count (a per-pass figure); ratios are taken over those sums. */
  def layers(tr: Tracer, passes: Seq[Harness.PassRec], items: Seq[Harness.ItemTrace],
      cores: Int): Map[String, Double] = {
    val nT = math.max(1, passes.count(_.traced)).toDouble
    val spans = tr.spans.toSeq
    val self = Trace.selfNs(spans)
    def secs(ns: Long) = ns / 1e9
    def dur(name: String, keep: Span => Boolean = _ => true) =
      secs(spans.filter(s => s.name == name && keep(s)).map(_.durNs).sum)

    val all = new GroupStats
    items.foreach(_.phases.values.foreach(all.add))
    def phaseStats(pred: (Harness.ItemTrace, String) => Boolean) = {
      val g = new GroupStats
      items.foreach(it => it.phases.foreach { case (k, v) => if (pred(it, k)) g.add(v) })
      g
    }
    val familyOf = items.map(i => i.item.name -> i.item.family).toMap

    val execSelf = spans.filter(_.name == "exec").map { e =>
      val io = spans.filter(s => s.trace == e.trace && s.item == e.item &&
        (s.name == "source.load" || s.name == "sink.write")).map(s => (s.startNs, s.endNs))
      e.durNs - Trace.covered(io, e.startNs, e.endNs)
    }.sum
    val itemSpans = spans.filter(_.name == "item")
    val noJobNs = itemSpans.map { s =>
      val jobs = spans.filter(j => j.name == "job" && j.trace == s.trace && j.item == s.item)
        .map(j => (j.startNs, j.endNs))
      s.durNs - Trace.covered(jobs, s.startNs, s.endNs)
    }.sum
    val skews = all.stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val m = median(ts.map(_.toDouble).toSeq)
      ts.max / math.max(1.0, m)
    }.toSeq
    val itemWall = secs(itemSpans.map(_.durNs).sum)
    val tracedWall = median(passes.filter(_.traced).map(_.wallS))
    val plainWall = median(passes.filterNot(_.traced).map(_.wallS))

    Map(
      "core.exec_s" -> dur("exec"),
      "core.self_s" -> secs(execSelf),
      "sources.load_s" -> dur("source.load"),
      "sources.loads" -> spans.count(_.name == "source.load").toDouble,
      "sources.rows_read" -> all.rowsRead.toDouble,
      "sources.mb_read" -> all.bytesRead / 1e6,
      "sinks.write_s" -> dur("sink.write"),
      "sinks.writes" -> spans.count(_.name == "sink.write").toDouble,
      "sinks.rows_written" -> all.rowsWritten.toDouble,
      "sinks.mb_written" -> all.bytesWritten / 1e6,
      "sinks.files_written" -> items.map(_.files).sum.toDouble,
      "queries.construct_s" -> dur("construct"),
      "queries.execute_s" -> dur("execute"),
      "queries.construct_jobs" -> phaseStats((_, k) => k.endsWith("/construct")).jobs.toDouble,
      "plans.asof.execute_s" -> dur("execute", s => Workloads.asOfPlanItems(s.item)),
      "spark.stages" -> all.stages.toDouble,
      "spark.skipped_stages" -> all.skippedStages.toDouble,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.gc_s" -> all.gcMs / 1e3,
      "spark.shuffle_read_mb" -> all.shuffleReadBytes / 1e6,
      "spark.spill_mb" -> all.spillBytes / 1e6,
      "spark.failed_tasks" -> all.failedTasks.toDouble,
      "spark.sched_delay_s" -> all.schedDelayMs / 1e3,
      "spark.no_job_s" -> secs(noJobNs)
    ).map { case (k, v) => k -> v / nT } ++ families.flatMap { f =>
      Seq(
        s"queries.$f.execute_s" -> dur("execute", s => familyOf.get(s.item).contains(f)) / nT,
        s"queries.$f.jobs" -> phaseStats((it, _) => it.item.family == f).jobs / nT)
    } ++ spanNames.map { n =>
      s"self.${n.replace('.', '_')}_s" -> secs(spans.filter(_.name == n).map(s => self(s.id)).sum) / nT
    } ++ Map(
      "spark.task_skew" -> median(skews),
      "spark.core_util" -> (if (itemWall > 0) all.cpuNs / 1e9 / (itemWall * cores) else 0.0),
      "trace.overhead" -> (if (plainWall > 0) tracedWall / plainWall else 0.0)
    )
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def writeSpans(spans: Seq[Span], path: String): Unit = {
    val body = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":${str(s.name)},""" +
        s""""item":${str(s.item)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    Files.writeString(Paths.get(path), body)
  }

  def resultJson(sessionS: Double, setupS: Double, attempted: Int, failures: Seq[(String, String, String)],
      passes: Seq[Harness.PassRec], samples: Seq[Harness.Sample], heapMb: Double,
      layers: Option[Map[String, Double]], quietFails: Int,
      items: Seq[(String, String)]): String = {
    val ps = passes.map { p =>
      s"""{"index":${p.index},"traced":${p.traced},"wall_s":${num(p.wallS)},""" +
        s""""cpu_s":${num(p.stats.cpuNs / 1e9)},"shuffle_bytes":${p.stats.shuffleWriteBytes},""" +
        s""""jobs":${p.stats.jobs}}"""
    }.mkString("[", ",", "]")
    val ss = samples.map { s =>
      s"""{"item":${str(s.item)},"pass":${s.pass},"traced":${s.traced},""" +
        s""""s":${num(s.seconds)},"ok":${s.ok}}"""
    }.mkString("[", ",", "]")
    val fs = failures.map { case (i, p, e) =>
      s"""{"item":${str(i)},"phase":${str(p)},"error":${str(e)}}"""
    }.mkString("[", ",", "]")
    val ls = layers.fold("null")(_.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}"))
    val is = items.map { case (n, f) => s"${str(n)}:${str(f)}" }.mkString("{", ",", "}")
    s"""{"session_s":${num(sessionS)},"setup_s":${num(setupS)},"attempted":$attempted,"failures":$fs,"passes":$ps,""" +
      s""""samples":$ss,"heap_live_mb":${num(heapMb)},"layers":$ls,""" +
      s""""quiesce_timeouts":$quietFails,"items":$is}"""
  }
}
