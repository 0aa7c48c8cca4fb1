package graft

import graft.core.{JoinSpec, Pipeline, PipelineStatus}
import graft.operators.{Qualifiers, Transformers}
import graft.sinks.ParquetSink
import graft.sources.{ParquetSource, RangeSource, SeqSource}
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSuite {

  test("from → qualify → transform → to: end-to-end with counters") {
    val out = tmpDir("pipe_basic")
    val report = Pipeline
      .from(ParquetSource(sf("customer")))
      .qualify(col("c_acctbal") > 0)
      .transform(Transformers.KeyRename(Map("c_name" -> "customer_name")))
      .transform(Transformers.KeyUnset(Seq("c_mktsegment")))
      .to(ParquetSink(s"$out/res"))
      .exec(spark)

    assert(report.status == PipelineStatus.Clean)
    val res = spark.read.parquet(s"$out/res")
    assert(res.columns.contains("customer_name"))
    assert(!res.columns.contains("c_mktsegment"))
    val expected = spark.read.parquet(sf("customer")).filter(col("c_acctbal") > 0).count()
    assert(res.count() == expected)
    assert(report.counters.exists { case (k, v) => k.startsWith("extract_") && v == 150 })
    assert(report.counters.exists { case (k, v) => k.startsWith("load_") && v == expected })
  }

  test("aggregate from = ordered concat (unionByName)") {
    val df = Pipeline
      .from(ParquetSource(sf("nation")))
      .from(ParquetSource(sf("nation")), aggregate = true)
      .toDF(spark)
    assert(df.count() == 50)
  }

  test("inner join skips misses; left join fills defaults") {
    // customer ⋈ nation (m:1, unique right key) — reference join mode
    val inner = Pipeline
      .from(ParquetSource(sf("customer")))
      .join(JoinSpec(ParquetSource(sf("nation")), "c_nationkey", "n_nationkey"))
      .toDF(spark)
    assert(inner.columns.contains("n_name"))
    assert(inner.count() == 150) // all nations present → no skips

    // restrict the dim side → misses; inner drops them, left fills default
    val dimFiltered = graft.sources.CallableSource(s =>
      s.read.parquet(sf("nation")).filter(col("n_regionkey") === 0))
    val innerMiss = Pipeline.from(ParquetSource(sf("customer")))
      .join(JoinSpec(dimFiltered, "c_nationkey", "n_nationkey"))
      .toDF(spark)
    val leftMiss = Pipeline.from(ParquetSource(sf("customer")))
      .join(JoinSpec(dimFiltered, "c_nationkey", "n_nationkey",
        leftJoin = true, defaults = Map("n_name" -> "unknown")))
      .toDF(spark)
    assert(innerMiss.count() < 150)
    assert(leftMiss.count() == 150)
    assert(leftMiss.filter(col("n_name") === "unknown").count() == 150 - innerMiss.count())
  }

  test("fromPerRecord: keyed = join, unkeyed = cross product") {
    val keyed = Pipeline
      .from(ParquetSource(sf("nation")))
      .fromPerRecord(ParquetSource(sf("region")), on = Some(("n_regionkey", "r_regionkey")))
      .toDF(spark)
    assert(keyed.count() == 25)

    // 25 nations × 5 regions = 125 (tests/QualifierTest.php:292-296 cardinality)
    val cross = Pipeline
      .from(ParquetSource(sf("nation")))
      .fromPerRecord(ParquetSource(sf("region")))
      .toDF(spark)
    assert(cross.count() == 125)
  }

  test("branch fan-out: per-branch filters, both sinks written, head shared") {
    val out = tmpDir("pipe_branch")
    val report = Pipeline
      .from(ParquetSource(sf("orders")))
      .branch(_.qualify(col("o_orderstatus") === "F")
        .to(ParquetSink(s"$out/f")))
      .branch(_.qualify(col("o_orderstatus") =!= "F")
        .transform(Transformers.Replace(overrides = Map("flag" -> "open")))
        .to(ParquetSink(s"$out/o")))
      .exec(spark)
    assert(report.status == PipelineStatus.Clean)
    val f = spark.read.parquet(s"$out/f").count()
    val o = spark.read.parquet(s"$out/o").count()
    assert(f + o == 1500)
    assert(spark.read.parquet(s"$out/o").columns.contains("flag"))
  }

  test("BreakAfter truncates and reports dirty status") {
    val report = Pipeline
      .from(ParquetSource(sf("orders")))
      .qualify(Qualifiers.BreakAfter(100))
      .exec(spark)
    assert(report.status == PipelineStatus.Dirty)
    assert(report.counters.exists { case (k, v) => k.startsWith("load_") && v == 100 })
  }

  test("TakeWhileOrdered: exact reference break-at semantics (4 of 10 pass)") {
    // reference tests/QualifierTest.php:49-80 — break when record 5 seen,
    // records 1..4 reach downstream
    val df = Pipeline
      .from(RangeSource(10))
      .transform(Transformers.Callable(d => d.withColumn("id", col("id") + 1)))
      .qualify(Qualifiers.TakeWhileOrdered(col("id") < 5, Seq(col("id"))))
      .toDF(spark)
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("targeted break of the OUTER source stops the whole nested iteration (flow7)") {
    // reference tests/QualifierTest.php:409-485: branch = from(ex1) →
    // from(ex2, per-record) → qualify(break@5 targeting ex1). The break
    // fires at the 5th joint record (o=0,i=4); aimed at the OUTER
    // source, every iteration level stops → exactly the 4 records
    // strictly before it reach downstream (reference t3 num_exec = 4).
    val outer = graft.sources.CallableSource(_.range(10).select(col("id").as("o")))
    val inner = graft.sources.CallableSource(_.range(10).select(col("id").as("i")))
    val df = Pipeline
      .from(outer)
      .fromPerRecord(inner) // unkeyed: inner re-triggered per outer record
      .qualify(Qualifiers.TakeWhileOrdered(
        !(col("o") === 0 && col("i") === 4), Seq(col("o"), col("i"))))
      .toDF(spark)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(rows == Seq((0L, 0L), (0L, 1L), (0L, 2L), (0L, 3L)))
  }

  test("targeted break of the INNER source resets per outer record") {
    // same topology, break aimed at the inner extractor: each inner
    // iteration stops at its own 5th record, the outer source keeps
    // flowing — 4 survivors per outer group, 10 groups
    val outer = graft.sources.CallableSource(_.range(10).select(col("id").as("o")))
    val inner = graft.sources.CallableSource(_.range(10).select(col("id").as("i")))
    val df = Pipeline
      .from(outer)
      .fromPerRecord(inner)
      .qualify(Qualifiers.TakeWhileGrouped(
        col("i") < 4, Seq(col("i")), Seq(col("o"))))
      .toDF(spark)
    assert(df.count() == 40)
    assert(df.select(countDistinct(col("o"))).head().getLong(0) == 10)
  }

  test("break inside a branch truncates ONLY that branch (flow3)") {
    // reference tests/QualifierTest.php:132-178: a break firing inside
    // a branch ends the branch's stream (4 of its records reach its
    // downstream nodes) while the ROOT flow runs to completion; the
    // whole exec still reports dirty because a break truncated a stream
    val out = tmpDir("pipe_flow3")
    val report = Pipeline
      .from(ParquetSource(sf("nation")))            // root: 25 records
      .branch(_
        .from(ParquetSource(sf("nation")), aggregate = true) // branch concats its own source
        .qualify(Qualifiers.BreakAfter(4))          // break on the 5th
        .to(ParquetSink(s"$out/branch")))
      .to(ParquetSink(s"$out/root"))
      .exec(spark)

    assert(report.status == PipelineStatus.Dirty)
    assert(spark.read.parquet(s"$out/branch").count() == 4)  // truncated
    assert(spark.read.parquet(s"$out/root").count() == 25)   // untouched
  }

  test("branch→root break: every ancestor continuation stops, status dirty (flow9)") {
    // reference tests/QualifierTest.php:567-648: a break targeting the
    // root flow from inside a branch. Branch sinks declared before the
    // break still flush (t1..t3 processed); the root's continuation
    // past the branch point sees ZERO records (t5 num_exec = 0) and the
    // flow reports dirty.
    val out = tmpDir("root_break")
    val report = Pipeline
      .from(graft.sources.CallableSource(_.range(10).select(col("id"))))
      .branch(_.qualify(col("id") < 5)
        .to(ParquetSink(s"$out/branch"))
        .interruptRootOn(col("id") === 3))
      .transform(Transformers.Replace(overrides = Map("tail" -> "x")))
      .to(ParquetSink(s"$out/root"))
      .exec(spark)
    assert(report.status == PipelineStatus.Dirty)
    assert(spark.read.parquet(s"$out/branch").count() == 5) // flushed pre-break
    assert(spark.read.parquet(s"$out/root").count() == 0)   // root interrupted
    assert(report.counters.exists { case (k, v) => k.startsWith("break_") && v == 1L })
  }

  test("root-targeted break that never fires leaves the flow clean") {
    val out = tmpDir("root_break_clean")
    val report = Pipeline
      .from(graft.sources.CallableSource(_.range(10).select(col("id"))))
      .branch(_.interruptRootOn(col("id") === 999))
      .to(ParquetSink(s"$out/root"))
      .exec(spark)
    assert(report.status == PipelineStatus.Clean)
    assert(spark.read.parquet(s"$out/root").count() == 10)
    assert(report.counters.exists { case (k, v) => k.startsWith("break_") && v == 0L })
  }

  test("steps after the last sink still execute (loader mid-flow tail)") {
    // regression: the tail's observation must belong to an executed
    // plan, or exec() blocks forever on Observation.get
    val out = tmpDir("midflow")
    val report = Pipeline
      .from(ParquetSource(sf("nation")))
      .to(ParquetSink(s"$out/mid"))
      .from(ParquetSource(sf("region")), aggregate = false)
      .exec(spark)
    // note: aggregate=false second from throws by design — use the report
    assert(report.status.isInstanceOf[PipelineStatus.Failed])
    val report2 = Pipeline
      .from(ParquetSource(sf("nation")))
      .to(ParquetSink(s"$out/mid2"))
      .transform(Transformers.KeyUnset(Seq("n_comment_missing_ok")))
      .qualify(col("n_regionkey") === 0)
      .exec(spark)
    assert(report2.status == PipelineStatus.Clean)
    // tail counters materialized via the terminal NoOp write
    assert(report2.counters.exists { case (k, v) => k.startsWith("load_") && v == 5 })
  }

  test("branches with their own sources get distinct observation names") {
    // regression: observation names collided between parent and branch
    val report = Pipeline
      .from(ParquetSource(sf("nation")))
      .branch(_.from(ParquetSource(sf("nation")), aggregate = true))
      .branch(_.from(ParquetSource(sf("nation")), aggregate = true))
      .exec(spark)
    assert(report.status == PipelineStatus.Clean, report.status.toString)
    // 50 = 25 parent nations + 25 branch-local flowing through each
    // branch's NoOp write
    assert(report.counters.count { case (k, v) => k.startsWith("load_") && v == 50 } == 2)
  }

  test("toDF leaves no observation registered once its query has run") {
    // toDF folds only the stream: a sink write or NoOp tail built with an
    // observe node no query ever runs would stay registered in the
    // session for good, one per call
    import org.apache.spark.sql.graft.SessionProbe
    val out = tmpDir("todf_obs")
    val flow = Pipeline
      .from(RangeSource(10))
      .qualify(col("id") < 8)
      .to(ParquetSink(s"$out/mid"))
      .branch(_.qualify(col("id") > 2)
        .interruptRootOn(col("id") === 99)
        .qualify(col("id") > 5)
        .to(ParquetSink(s"$out/branch")))
      .transform(Transformers.Replace(overrides = Map("tail" -> "x")))
    val before = SessionProbe.pendingObservations(spark)
    (1 to 5).foreach(_ => assert(flow.toDF(spark).collect().length == 8))
    assert(SessionProbe.pendingObservations(spark) == before)
  }

  test("toDF observes nothing: no pending observation without an action, no CollectMetrics in its plan") {
    import org.apache.spark.sql.graft.SessionProbe
    val out = tmpDir("todf_lazy")
    val flow = Pipeline
      .from(RangeSource(10))
      .qualify(col("id") < 8)
      .to(ParquetSink(s"$out/mid"))
      .branch(_.interruptRootOn(col("id") === 99))
    val before = SessionProbe.pendingObservations(spark)
    val dfs = (1 to 5).map(_ => flow.toDF(spark))
    assert(SessionProbe.pendingObservations(spark) == before)
    dfs.foreach { df =>
      val plan = df.queryExecution.optimizedPlan.treeString
      assert(!plan.contains("CollectMetrics"), plan)
    }
  }

  test("ArrowSink and AvroSink loads report every record they write") {
    import graft.sinks.{ArrowSink, AvroSink}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val n = 1000
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false), StructField("label", StringType)))
    val rows = (0 until n).map(i => Row(i.toLong, s"r$i"))
    val out = tmpDir("pipe_arrow_avro")
    Seq(ArrowSink(s"$out/arrow"), AvroSink(s"$out/avro")).foreach { sink =>
      val report = Pipeline.from(SeqSource(rows, schema)).to(sink).exec(spark)
      assert(report.status == PipelineStatus.Clean, report.status.toString)
      Seq("extract_", "load_").foreach { prefix =>
        val got = report.counters.collect { case (k, v) if k.startsWith(prefix) => v }
        assert(got.toSeq == Seq(n.toLong), s"$sink $prefix: ${report.counters}")
      }
    }
  }

  test("a flow that fails after pinning a frame leaves nothing cached") {
    import graft.sinks.Sink
    import org.apache.spark.sql.graft.SessionProbe
    val out = tmpDir("fail_pinned")
    val before = SessionProbe.cachedEntries(spark)
    // a compile error after the fan-out pin at the first `to`
    val compileFail = Pipeline
      .from(ParquetSource(sf("nation")))
      .to(ParquetSink(s"$out/mid"))
      .from(ParquetSource(sf("region")))
      .exec(spark)
    assert(compileFail.status.isInstanceOf[PipelineStatus.Failed])
    assert(SessionProbe.cachedEntries(spark) == before)
    // a sink that throws on the second write, with the shared prefix and
    // a break signal pinned
    var cachedAtFailure = -1
    val boom = new Sink {
      def write(df: org.apache.spark.sql.DataFrame): Unit = {
        cachedAtFailure = SessionProbe.cachedEntries(df.sparkSession)
        throw new IllegalStateException("sink down")
      }
    }
    val sinkFail = Pipeline
      .from(ParquetSource(sf("nation")))
      .interruptRootOn(col("n_nationkey") < 0)
      .to(ParquetSink(s"$out/first"))
      .to(boom)
      .exec(spark)
    sinkFail.status match {
      case PipelineStatus.Failed(e) => assert(e.getMessage == "sink down")
      case other                    => fail(s"expected Failed(sink down), got $other")
    }
    assert(spark.read.parquet(s"$out/first").count() == 25)
    assert(cachedAtFailure == before + 2, "the prefix and the break signal were pinned")
    assert(SessionProbe.cachedEntries(spark) == before)
  }

  test("multi-sink exec persists the shared prefix exactly once") {
    val out = tmpDir("fanout2")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val report = Pipeline
      .from(ParquetSource(sf("customer")))
      .qualify(col("c_acctbal") > 0)
      .to(ParquetSink(s"$out/a"))
      .to(ParquetSink(s"$out/b"))
      .exec(spark)
    assert(report.status == PipelineStatus.Clean)
    assert(spark.read.parquet(s"$out/a").count() == spark.read.parquet(s"$out/b").count())
    // exec unpersists its own prefix caches (other suites may cache)
    assert(spark.sparkContext.getPersistentRDDs.size <= cachedBefore)
  }

  test("sendTo injects records at a label, bypassing the upstream qualifier") {
    // reference docs/usage.md:133-135: send a record directly to the
    // branch's transformer WITHOUT passing through the Qualifier
    val out = tmpDir("pipe_sendto")
    val flow = Pipeline
      .from(ParquetSource(sf("customer")))
      .qualify(col("c_acctbal") > 0)
      .label("after_qualify")
      .transform(Transformers.KeyRename(Map("c_name" -> "customer_name")))
      .to(ParquetSink(s"$out/main"))

    // normal exec: qualifier applies
    flow.exec(spark)
    val qualified = spark.read.parquet(s"$out/main")
    assert(qualified.filter(col("c_acctbal") <= 0).count() == 0)

    // injected records skip the qualifier but hit the transformer + sink
    val negatives = spark.read.parquet(sf("customer")).filter(col("c_acctbal") <= 0)
    val injected = flow.sendTo("after_qualify", negatives).toDF(spark)
    assert(injected.columns.contains("customer_name"))
    assert(injected.count() == negatives.count() && negatives.count() > 0)

    // exec form: the tail's sink runs on the injected records
    val report = flow.sendTo("after_qualify", negatives).exec(spark)
    assert(report.status == PipelineStatus.Clean)

    // unknown labels and duplicates are refused loudly
    assertThrows[IllegalArgumentException](flow.sendTo("nope", negatives))
    assertThrows[IllegalArgumentException](flow.label("after_qualify").label("after_qualify"))
  }

  test("failed flow reports Failed status") {
    val report = Pipeline
      .from(ParquetSource("/nonexistent/nope.parquet"))
      .exec(spark)
    assert(report.status.isInstanceOf[PipelineStatus.Failed])
  }

  test("asOf verb: pipeline surface equals the direct plan-node API") {
    import spark.implicits._
    val l = Seq((1L, 100L, 10L), (1L, 200L, 11L), (2L, 50L, 20L))
      .toDF("lk", "lt", "lid")
    val rDf = Seq((1L, 90L, 7L), (1L, 150L, 8L)).toDF("rk", "rt", "rid")
    val viaPipeline = Pipeline()
      .from(graft.sources.CallableSource(_ => l))
      .asOf(graft.sources.CallableSource(_ => rDf),
        "lk", "rk", "lt", "rt", "lid", "rid")
      .toDF(spark)
      .collect().map(r => (r.getLong(2), Option(r.get(5)).map(_.asInstanceOf[Long]))).toSet
    val direct = graft.plans.AsOf.join(l, rDf, "lk", "rk", "lt", "rt", "lid", "rid")
      .collect().map(r => (r.getLong(2), Option(r.get(5)).map(_.asInstanceOf[Long]))).toSet
    assert(viaPipeline == direct, s"pipeline=$viaPipeline direct=$direct")
    assert(viaPipeline == Set((10L, Some(7L)), (11L, Some(8L)), (20L, None)))
  }

  test("ordered(): aggregate-concat preserves end-to-end record order (README.md:174)") {
    // The reference's AggregateExtractor drains shards in the order
    // they were added; ordered() restores that observable behavior.
    // Values are deliberately adversarial — NOT sorted by any column —
    // so only true source order can produce the expected sequence.
    import graft.sinks.CsvSink
    import graft.sources.CsvSource
    def writeCsv(name: String, lines: Seq[String]): String = {
      val d = java.nio.file.Paths.get(tmpDir(name))
      val f = d.resolve("data.csv")
      java.nio.file.Files.write(f, ("id,name" +: lines).mkString("\n").getBytes("UTF-8"))
      f.toString
    }
    val fa = writeCsv("ord_a", Seq("5,e", "3,c", "9,z", "1,a"))
    val fb = writeCsv("ord_b", Seq("7,g", "2,b"))
    val flow = Pipeline
      .from(CsvSource(fa))
      .from(CsvSource(fb), aggregate = true)
      .ordered()
      // a whole-record transformer in the middle: the __graft_ ordering
      // tags must be invisible to it (namespace skip in PerColumn)
      .transform(Transformers.PerColumn((c, _) => upper(c.cast("string"))))
    val got = flow.toDF(spark).collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq("5" -> "E", "3" -> "C", "9" -> "Z", "1" -> "A",
      "7" -> "G", "2" -> "B"), got)
    // and the SINK sees the same order (single-file CSV, line-exact)
    val out = tmpDir("ord_out") + "/res.csv"
    val report = flow.to(CsvSink(out, singleFile = true)).exec(spark)
    assert(report.status == PipelineStatus.Clean)
    val lines = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out)), "UTF-8").trim.split("\n").toSeq
    assert(lines == Seq("id,name", "5,E", "3,C", "9,Z", "1,A", "7,G", "2,B"), lines)
    // the bookkeeping columns never leak into the output schema
    assert(!flow.toDF(spark).columns.exists(_.startsWith("__graft_")))
  }

  test("source limit/offset with required ordering") {
    val df = Pipeline
      .from(ParquetSource(sf("orders"), limit = Some(20), offset = 10, orderedBy = Seq("o_orderkey")))
      .toDF(spark)
    val keys = df.collect().map(_.getLong(0)).sorted
    val all = spark.read.parquet(sf("orders")).orderBy("o_orderkey")
      .collect().map(_.getLong(0)).slice(10, 30)
    assert(keys.toSeq == all.toSeq)
  }

  test("SeqSource: in-memory rows keep their schema and honour the source limit through a join to a sink") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false), StructField("label", StringType)))
    val rows = Seq(Row(0L, "a"), Row(1L, "b"), Row(2L, "c"), Row(3L, "d"))
    val out = tmpDir("pipe_seq")
    val report = Pipeline
      .from(SeqSource(rows, schema, limit = Some(2)))
      .join(JoinSpec(ParquetSource(sf("nation")), "k", "n_nationkey"))
      .to(ParquetSink(s"$out/res"))
      .exec(spark)
    assert(report.status == PipelineStatus.Clean)
    val res = spark.read.parquet(s"$out/res")
    // the declared columns lead the joined record with their types
    assert(res.schema.fields.take(2).map(f => f.name -> f.dataType).toSeq ==
      Seq("k" -> LongType, "label" -> StringType), res.schema.treeString)
    assert(res.columns.contains("n_name"))
    val got = res.select("k", "label").collect().map(r => r.getLong(0) -> r.getString(1))
    assert(got.length == 2, got.mkString(","))
    assert(got.toSet.subsetOf(Set(0L -> "a", 1L -> "b", 2L -> "c", 3L -> "d")))
    assert(report.counters.exists { case (k, v) => k.startsWith("extract_") && v == 2 },
      report.counters.toString)
  }

  test("chained loaders: ids generated before the first sink are pinned for the second") {
    // The reference's chained-loader pattern (docs/citizens.md:465-496):
    // the first loader assigns each record an id and downstream nodes —
    // including the next loader — see it. Spark-first rendition: generate
    // the ids IN-FLOW (uuid / monotonically_increasing_id — both
    // nondeterministic under recomputation) before the first `to`; the
    // shared-prefix persist at the fan-out point pins one evaluation, so
    // the second sink provably receives byte-identical keys to what the
    // first sink committed.
    val out = tmpDir("chained_ids")
    val report = Pipeline
      .from(ParquetSource(sf("nation")))
      .transform(Transformers.Callable(_
        .withColumn("row_id", monotonically_increasing_id())
        .withColumn("uid", expr("uuid()"))))
      .to(ParquetSink(s"$out/first"))
      .transform(Transformers.Callable(_.select(col("row_id"), col("uid"), col("n_name"))))
      .to(ParquetSink(s"$out/second"))
      .exec(spark)
    assert(report.status == PipelineStatus.Clean)
    val first = spark.read.parquet(s"$out/first")
      .select("row_id", "uid").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val second = spark.read.parquet(s"$out/second")
      .select("row_id", "uid").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(first.size == 25)
    assert(first == second)
  }

  /** Run `body` with the SparkContext's checkpoint dir UNSET, restoring
    * it after. The dir is context-scoped with no public unset, so a
    * conditional skip (the previous shape of these tests) silently
    * loses coverage whenever any earlier test on the shared session set
    * a dir — reset the underlying field instead so the fail-fast path
    * is always exercised regardless of suite ordering. */
  private def withNoCheckpointDir[A](body: => A): A = {
    val sc = spark.sparkContext
    val saved = sc.getCheckpointDir
    val field = sc.getClass.getDeclaredField("checkpointDir")
    field.setAccessible(true)
    field.set(sc, None)
    try body finally saved.foreach(sc.setCheckpointDir)
  }

  test("durable fan-out without a checkpoint dir fails fast with a clear message") {
    withNoCheckpointDir {
      val report = Pipeline
        .from(ParquetSource(sf("nation")))
        .to(ParquetSink(s"${tmpDir("nockpt")}/a"))
        .to(ParquetSink(s"${tmpDir("nockpt")}/b"))
        .durable()
        .exec(spark)
      report.status match {
        case PipelineStatus.Failed(e) =>
          assert(e.getMessage.contains("setCheckpointDir"))
        case other => fail(s"expected Failed(setCheckpointDir), got $other")
      }
    }
  }

  test("durable break signal without a checkpoint dir fails fast too (no fan-out)") {
    // single sink — the fan-out checkpoint never runs, so this pins the
    // break-signal path's own guard (it used to surface Spark's raw
    // "checkpoint directory has not been set")
    withNoCheckpointDir {
      val report = Pipeline
        .from(RangeSource(10))
        .interruptRootOn(col("id") === 3)
        .to(ParquetSink(s"${tmpDir("nockpt_break")}/a"))
        .durable()
        .exec(spark)
      report.status match {
        case PipelineStatus.Failed(e) =>
          assert(e.getMessage.contains("setCheckpointDir"))
        case other => fail(s"expected Failed(setCheckpointDir), got $other")
      }
    }
  }

  test("sendTo keeps durable(): the injected tail's fan-out needs a checkpoint dir too") {
    // the tail sendTo returns must run in the flow's own modes — a
    // durable flow whose tail fell back to best-effort persist() would
    // silently lose the fan-out guarantee and report Clean
    withNoCheckpointDir {
      val out = tmpDir("nockpt_sendto")
      val flow = Pipeline
        .from(RangeSource(10))
        .label("in")
        .to(ParquetSink(s"$out/a"))
        .to(ParquetSink(s"$out/b"))
        .durable()
      flow.sendTo("in", spark.range(5).toDF()).exec(spark).status match {
        case PipelineStatus.Failed(e) =>
          assert(e.getMessage.contains("setCheckpointDir"))
        case other => fail(s"expected Failed(setCheckpointDir), got $other")
      }
    }
  }

  test("durable fan-out: chained sinks agree even when the cache is lost mid-exec") {
    // The README caveat, reproduced then closed. persist() pins ids
    // only best-effort: losing the cached prefix between the two sink
    // writes (here: an explicit clearCache standing in for executor
    // loss / memory-pressure eviction) forces a recomputation and the
    // id generator runs AGAIN — the second sink silently diverges from
    // what the first committed. Note the generator: Spark seeds uuid()
    // / rand() per plan, so a byte-identical recompute of a
    // deterministic local scan reproduces them — the cluster-scale
    // divergence mode is shuffle-order/partition instability under
    // retry, which a single-stage local test cannot exhibit; an
    // explicitly nondeterministic UDF models it honestly. durable()
    // replaces the fan-out persist with a reliable eager checkpoint:
    // the prefix is materialized in the checkpoint store,
    // recomputation cannot happen, so no generator — however unstable
    // — can diverge the sinks.
    import graft.sinks.Sink
    final case class EvictAfter(inner: Sink) extends Sink {
      def write(df: org.apache.spark.sql.DataFrame): Unit = {
        inner.write(df)
        df.sparkSession.catalog.clearCache() // simulated cache loss
      }
    }
    val freshId = udf(() => java.util.UUID.randomUUID().toString).asNondeterministic()
    def run(out: String, durable: Boolean): (Set[String], Set[String]) = {
      val base = Pipeline
        .from(ParquetSource(sf("nation")))
        .transform(Transformers.Callable(_.withColumn("uid", freshId())))
        .to(EvictAfter(ParquetSink(s"$out/first")))
        .to(ParquetSink(s"$out/second"))
      val report = (if (durable) base.durable() else base).exec(spark)
      assert(report.status == PipelineStatus.Clean)
      def uids(p: String) =
        spark.read.parquet(p).select("uid").collect().map(_.getString(0)).toSet
      (uids(s"$out/first"), uids(s"$out/second"))
    }
    // hazard is real: without durable mode the eviction diverges the sinks
    val (f1, s1) = run(tmpDir("chain_evict_plain"), durable = false)
    assert(f1.size == 25 && s1.size == 25)
    assert(f1 != s1, "expected uuid divergence after cache loss — persist is best-effort")
    // durable mode closes it
    spark.sparkContext.setCheckpointDir(tmpDir("chain_ckpt_dir"))
    val (f2, s2) = run(tmpDir("chain_evict_durable"), durable = true)
    assert(f2.size == 25)
    assert(f2 == s2, "durable checkpoint must pin ids across cache loss")
  }

}
