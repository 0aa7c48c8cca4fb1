package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The measuring half of the benchmark (run.py builds it, starts it and
  * checks its outputs). One JVM runs one workload as a closed loop with a
  * single client thread against Spark `local[cores]`:
  *
  *  1. set-up: session, scratch dirs, then one untimed warm-up pass,
  *     which is also the verification pass (each item's output is written
  *     for the digest check);
  *  2. timed passes, each running every item once in a seeded order,
  *     until `seconds` have elapsed and at least two have run. With
  *     `trace=1` untraced and traced passes alternate; per-layer figures
  *     come from the traced ones and the ratio of their walls is the
  *     tracing overhead;
  *  3. the live old-generation heap after full collections.
  *
  * Arguments are `key=value`: workload, seed, seconds, trace, cores,
  * data, scratch, result, spans. */
object Harness {

  final case class Sample(item: String, pass: Int, traced: Boolean, seconds: Double, ok: Boolean)
  final case class PassRec(index: Int, traced: Boolean, wallS: Double, stats: GroupStats)
  final case class ItemTrace(item: Item, phases: Map[String, GroupStats], files: Long)

  /** Old-generation occupancy after full collections: the live set.
    * The pauses let Spark's ContextCleaner drop the broadcast and shuffle
    * state the previous collection released, so it is not counted. */
  def oldGenLiveMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => (p.getName.contains("Old Gen") || p.getName.contains("Tenured")) &&
        p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed / 1e6).maxOption.getOrElse(0.0)
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val items = Workloads.all(a("workload"))
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val data = a("data")
    val scratch = a("scratch")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    def sinceStart = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val sessionS = sinceStart
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(s"$scratch/sinks"))
    sc.setCheckpointDir(s"$scratch/checkpoints")
    val counters = new Counters
    sc.addSparkListener(counters)
    val rng = new scala.util.Random(a("seed").toLong)

    var attempted = 0
    val failures = mutable.ArrayBuffer.empty[(String, String, String)]
    /** Run one item, timing only `body`; the cache is cleared after the
      * clock stops, so no item reuses another's cached frames. */
    def attempt(item: Item, phase: String)(body: => Unit): (Double, Boolean) = {
      attempted += 1
      val t0 = System.nanoTime()
      val ok =
        try { body; true }
        catch { case e: Throwable =>
          failures += ((item.name, phase, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
          false
        }
      val s = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      (s, ok)
    }

    // 1. warm-up: the verification pass
    sc.setJobGroup("warmup", "warmup")
    val samples = mutable.ArrayBuffer.empty[Sample]
    val warm = new Ctx(spark, data, scratch, None, "warmup")
    rng.shuffle(items).foreach { it =>
      val (s, ok) = attempt(it, "verify")(it.verify(warm, s"$scratch/verify/${it.name}"))
      samples += Sample(it.name, -1, traced = false, s, ok)
    }
    sc.clearJobGroup()
    val setupS = sinceStart
    var quietFails = if (counters.quiesce()) 0 else 1
    counters.drain(_ => true)

    // 2. timed passes
    val tracer = if (traced) Some(new Tracer(sc)) else None
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val itemTraces = mutable.ArrayBuffer.empty[ItemTrace]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var pass = 0
    while (pass < 2 || (traced && pass % 2 == 1) ||
        (elapsed < seconds && elapsed < 120)) {
      val tracedPass = traced && pass % 2 == 1
      val order = rng.shuffle(items)
      val group = s"p$pass"
      var wall = 0.0
      if (!tracedPass) {
        sc.setJobGroup(group, group)
        order.foreach { it =>
          val (s, ok) = attempt(it, "run")(it.run(new Ctx(spark, data, scratch, None, group)))
          samples += Sample(it.name, pass, traced = false, s, ok)
          wall += s
        }
        sc.clearJobGroup()
      } else {
        val tr = tracer.get
        tr.pass(pass) {
          order.foreach { it =>
            val g = s"$group/${it.name}"
            val (s, ok) = attempt(it, "run")(
              tr.item(it.name, g)(it.run(new Ctx(spark, data, scratch, tracer, g))))
            samples += Sample(it.name, pass, traced = true, s, ok)
            wall += s
            if (!counters.quiesce()) quietFails += 1
            val phases = counters.drain(k => k == g || k.startsWith(g + "/"))
            tr.addJobs(pass, it.name, phases.values.flatMap(_.jobIntervals).toSeq)
            val files = it.sinkDirs.map(d => Report.dataFiles(s"$scratch/sinks/$d")).sum
            itemTraces += ItemTrace(it, phases, files)
          }
        }
      }
      if (!counters.quiesce()) quietFails += 1
      val total = new GroupStats
      counters.drain(k => k == group || k.startsWith(group + "/")).values.foreach(total.add)
      passes += PassRec(pass, tracedPass, wall, total)
      pass += 1
    }

    val heapMb = oldGenLiveMb()
    val layers = tracer.map(tr => Report.layers(tr, passes.toSeq, itemTraces.toSeq, cores))
    tracer.foreach(tr => Report.writeSpans(tr.spans.toSeq, a("spans")))
    Files.writeString(Paths.get(a("result")), Report.resultJson(
      sessionS, setupS, attempted, failures.toSeq, passes.toSeq, samples.toSeq, heapMb, layers,
      quietFails, items.map(i => i.name -> i.family)))
    spark.stop()
  }
}
