package graft

import graft.core.{Pipeline, PipelineEvents, PipelineStatus}
import graft.sinks.ParquetSink
import graft.sources.{JdbcSource, ParquetSource}
import org.apache.spark.sql.functions._
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable

class ObservabilitySpec extends SparkSuite {

  private final class Recorder extends PipelineEvents {
    val calls = mutable.ListBuffer.empty[String]
    var lastProgress = 0L
    override def onStart(): Unit = synchronized { calls += "start" }
    override def onProgress(n: Long): Unit = synchronized { lastProgress = n }
    override def onFlush(i: Int): Unit = synchronized { calls += s"flush:$i" }
    override def onContinue(n: Long): Unit = synchronized { calls += s"continue:$n" }
    override def onBreak(): Unit = synchronized { calls += "break" }
    override def onSuccess(r: graft.core.PipelineReport): Unit = synchronized { calls += "success" }
    override def onFail(e: Throwable): Unit = synchronized { calls += "fail" }
  }

  test("lifecycle events: start, flush per sink, success; progress ticks") {
    val rec = new Recorder
    val out = tmpDir("events")
    val report = Pipeline
      .from(ParquetSource(sf("customer")))
      .qualify(col("c_acctbal") > 0)
      .to(ParquetSink(s"$out/a"))
      .to(ParquetSink(s"$out/b"))
      .exec(spark, rec)
    assert(report.status == PipelineStatus.Clean)
    assert(rec.calls.head == "start")
    assert(rec.calls.count(_.startsWith("flush:")) == 2)
    assert(rec.calls.last == "success")
    // task-end progress is async on the listener bus; poll briefly
    val deadline = System.currentTimeMillis() + 5000
    while (rec.lastProgress == 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    assert(rec.lastProgress > 0)
  }

  test("progress counts only the flow's own jobs while a foreign scan runs on another thread") {
    def flow(out: String) = Pipeline.from(ParquetSource(sf("lineitem"))).to(ParquetSink(out))
    val solo = new Recorder
    assert(flow(tmpDir("solo")).exec(spark, solo).status == PipelineStatus.Clean)
    assert(solo.lastProgress == spark.read.parquet(sf("lineitem")).count())
    // started before exec, so the foreign thread never inherits its tag;
    // it keeps scanning from before exec starts until after it returns
    val stop = new AtomicBoolean(false)
    val scanning = new CountDownLatch(1)
    val foreign = new Thread(() =>
      while (!stop.get) {
        spark.read.parquet(sf("orders")).write.format("noop").mode("overwrite").save()
        scanning.countDown()
      })
    foreign.start()
    val busy = new Recorder
    try {
      assert(scanning.await(60, TimeUnit.SECONDS))
      assert(flow(tmpDir("busy")).exec(spark, busy).status == PipelineStatus.Clean)
    } finally {
      stop.set(true)
      foreign.join()
    }
    assert(busy.lastProgress == solo.lastProgress)
  }

  test("flow.continue fires with the exact skipped-record count; no break on a clean flow") {
    val rec = new Recorder
    val total = spark.read.parquet(sf("customer")).count()
    val kept = spark.read.parquet(sf("customer")).filter(col("c_acctbal") > 0).count()
    Pipeline
      .from(ParquetSource(sf("customer")))
      .qualify(col("c_acctbal") > 0)
      .exec(spark, rec)
    assert(rec.calls.contains(s"continue:${total - kept}"))
    assert(!rec.calls.contains("break"))
  }

  test("flow.break fires when a truncating qualifier runs; no continue when nothing skipped") {
    val rec = new Recorder
    val report = Pipeline
      .from(ParquetSource(sf("nation")))
      .qualify(graft.operators.Qualifiers.BreakAfter(5))
      .exec(spark, rec)
    assert(report.status == PipelineStatus.Dirty)
    assert(rec.calls.contains("break"))
    assert(!rec.calls.exists(_.startsWith("continue:")))
  }

  test("failure path fires onFail and reports Failed") {
    val rec = new Recorder
    val report = Pipeline
      .from(ParquetSource("/nonexistent/nope.parquet"))
      .exec(spark, rec)
    assert(report.status.isInstanceOf[PipelineStatus.Failed])
    assert(rec.calls.contains("fail"))
  }

  test("report.pretty mirrors the reference getStats surface") {
    val report = Pipeline
      .from(ParquetSource(sf("nation")))
      .exec(spark)
    assert(report.pretty.contains("clean"))
    assert(report.pretty.contains("25 extracted"))
    assert(report.pretty.contains("ms"))
  }

  test("JdbcSource maps reference pagination/batch knobs to JDBC options") {
    val src = JdbcSource("jdbc:postgresql://db/x", "orders",
      partitionColumn = Some("o_orderkey"), lowerBound = Some(0L),
      upperBound = Some(1000000L), numPartitions = Some(16))
    val o = src.options
    assert(o("fetchsize") == "1337") // reference default batchSize
    assert(o("partitionColumn") == "o_orderkey")
    assert(o("numPartitions") == "16")
    assert(o("url").startsWith("jdbc:postgresql"))
    // partial partition spec → no partition options at all
    val partial = JdbcSource("jdbc:x", "t", partitionColumn = Some("k"))
    assert(!partial.options.contains("partitionColumn"))
  }
}
