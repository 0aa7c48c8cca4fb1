package graft

import graft.core.JobMetrics
import org.apache.spark.sql.DataFrame
import java.util.concurrent.{CyclicBarrier, TimeUnit}

class JobMetricsSpec extends SparkSuite {

  test("two tags on interleaved jobs: each collector counts only its own jobs") {
    val nation = spark.read.parquet(sf("nation")) // 25 rows
    val region = spark.read.parquet(sf("region")) // 5 rows
    val rounds = 3
    val barrier = new CyclicBarrier(2)
    def run(df: DataFrame): (JobMetrics.Totals, Boolean) =
      JobMetrics.tagged(spark.sparkContext) { metrics =>
        (1 to rounds).foreach { _ =>
          // both tags submit each round's jobs together
          barrier.await(60, TimeUnit.SECONDS)
          df.repartition(3).write.format("noop").mode("overwrite").save()
        }
        val quiet = metrics.quiesce()
        (metrics.totals, quiet)
      }
    // created before either tag is set, so it inherits none
    var other: (JobMetrics.Totals, Boolean) = null
    val thread = new Thread(() => other = run(region))
    thread.start()
    val mine = run(nation)
    thread.join()

    assert(mine._2 && other._2, "quiesce() must return true")
    val (n, r) = (mine._1, other._1)
    assert(n.inputRecords == 25L * rounds && n.shuffleRecords == 25L * rounds)
    assert(r.inputRecords == 5L * rounds && r.shuffleRecords == 5L * rounds)
    // same plan shape on both sides: same job count, at least one per write
    assert(n.jobs == r.jobs && n.jobs >= rounds)
  }
}
