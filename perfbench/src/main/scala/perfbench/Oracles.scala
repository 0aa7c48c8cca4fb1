package perfbench

/** Prints, as one JSON object, the engine's DuckDB oracle SQL
  * (`SparkEntry.oracleSql`) for every query item of the benchmark.
  * make_expected.py turns these into expected digests. */
object Oracles {
  def main(args: Array[String]): Unit = {
    val names = Workloads.all.values.flatten.map(_.name).toSet
    println(graft.SparkEntry.oracleSql.toSeq.filter { case (k, _) => names(k) }.sortBy(_._1)
      .map { case (k, v) => s"${Report.str(k)}:${Report.str(v)}" }.mkString("{", ",", "}"))
  }
}
