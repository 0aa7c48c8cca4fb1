package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg: comma-separated query subset (local iteration;
    // the driver always runs the full map)
    val only: Option[Set[String]] =
      args.lift(2).map(_.split(',').map(_.trim).toSet)
    val spark = SparkEntry.localSession(defaultCpus = 4, logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): coalesce folds into the final
      // stage and serializes everything after the last shuffle onto
      // one core — at sf1 that ran dedup_edit_distance's levenshtein
      // verify single-threaded for 18+ min. repartition inserts one
      // tiny exchange of the RESULT rows (verify outputs are bounded),
      // keeping the compute stage at full parallelism.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // never leave a previous run's output where a failed query's
        // should be — the compare would silently pass on stale results
        val stale = new java.io.File(s"$outDir/$name")
        if (stale.exists()) {
          stale.listFiles().foreach(_.delete())
          stale.delete()
        }
      } finally spark.catalog.clearCache() // per-query persists don't leak
    }
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s"${SparkEntry.jsonString(k)}: ${SparkEntry.jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
