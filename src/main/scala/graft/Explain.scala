package graft

import graft.core.JobMetrics

/** Plan-audit helper main: print a query's formatted physical plan and
  * its timed end-to-end cost through the noop sink. Usage:
  *   runMain graft.Explain <query>[,<query>...] [sfDir] [reps]
  * This is the ".explain and iterate" loop the build brief prescribes,
  * packaged so it needs no REPL (the sbt console chokes on pasted
  * multiline code under batch mode).
  *
  * Every rep also prints a per-JOB timing table (job id, wall seconds,
  * number of stages, first line of the job's callsite, and each
  * completed stage's tasks/run/cpu/shuffle row) — the fastest way to see
  * whether a query's wall time is one big stage or fifty tiny scheduling
  * round-trips (the superstep-query signature).
  */
object Explain {

  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q1_agg").split(',').toSeq
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val reps = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = SparkEntry.localSession(defaultCpus = 32, logLevel = "ERROR")

    /** Run `body` under its own job tag; print its wall time and the
      * table of exactly its jobs (`running` = no end by the deadline). */
    def timed[T](label: String)(body: => T): T =
      JobMetrics.tagged(spark.sparkContext) { metrics =>
        val t0 = System.nanoTime()
        val result = body
        println(f"[explain] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
        metrics.quiesce()
        println(metrics.report())
        result
      }

    names.foreach { name =>
      println(s"==== $name ($sfDir) ====")
      // query CONSTRUCTION runs eager work for superstep queries
      // (localCheckpoint/persist+count inside the def) — time and
      // job-table it separately so that cost is visible, not hidden
      val df = timed(s"$name construction")(SparkEntry.queries(name)(spark, sfDir))
      df.explain("formatted")
      (1 to reps).foreach { r =>
        timed(s"$name rep $r")(df.write.format("noop").mode("overwrite").save())
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
