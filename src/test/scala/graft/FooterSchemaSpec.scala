package graft

import graft.core.JobMetrics
import graft.sources.ParquetSource
import graft.streaming.EventStreams
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.{FooterSchema, SessionScope}
import org.apache.spark.sql.types.{LongType, MetadataBuilder, TimestampType}

/** The driver-side footer schema must be the schema Spark's own
  * inference gives (fields, types, nullability, metadata), read from the
  * same file, without a Spark job — and the nanos decode it carries must
  * work without the session's `nanosAsLong` conf. */
class FooterSchemaSpec extends SparkSuite {

  private val NanosKey = "spark.sql.legacy.parquet.nanosAsLong"
  private def fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  /** The footer read's schema against Spark's, both as the reader sees
    * them and as inferred (before the reader makes every field
    * nullable): [[FooterSchema.infer]] against Spark's own inference
    * over the same file index. */
  private def assertSameSchema(paths: String*): Unit = {
    val want = spark.read.parquet(paths: _*).schema
    val got = FooterSchema.read(spark, paths).schema
    // StructField equality covers name, type, nullability and metadata
    assert(got == want, s"$paths:\n${got.treeString}\nvs\n${want.treeString}")
    val files = new InMemoryFileIndex(spark, paths.map(new Path(_)), Map.empty, None).allFiles()
    assert(FooterSchema.infer(spark, paths) ==
      new ParquetFileFormat().inferSchema(spark, Map.empty, files), paths)
  }

  private def partFile(dir: String): Path =
    fs.listStatus(new Path(dir)).map(_.getPath).filter(_.getName.startsWith("part-")).head

  test("the footer schema equals Spark's for every sf0.01 table") {
    Tables.names.foreach(t => assertSameSchema(s"/root/testdata/sf0.01/$t.parquet"))
  }

  test("the footer schema equals Spark's on a Spark-written partitionBy directory with a varchar column") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("footer_part")
    // a varchar column as a table schema carries it: a string with the
    // char/varchar type string in its field metadata
    val varchar = new MetadataBuilder()
      .putString("__CHAR_VARCHAR_TYPE_STRING", "varchar(8)").build()
    val comment = new MetadataBuilder().putString("comment", "row id").build()
    spark.range(12)
      .select(col("id").as("id", comment), col("id").cast("string").as("v", varchar),
        (col("id") % 3).cast("int").as("k"))
      .write.mode("overwrite").partitionBy("k").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    assert(schema.fieldNames.toSeq == Seq("id", "v", "k"))
    assert(schema("id").metadata == comment && schema("v").metadata == varchar)
    assertSameSchema(dir)
  }

  test("two part files with different schemas: the same file wins as in Spark's inference") {
    def write(df: DataFrame): Path = {
      val d = tmpDir("footer_src")
      df.coalesce(1).write.mode("overwrite").parquet(d)
      partFile(d)
    }
    val narrow = write(spark.range(3).selectExpr("id AS a"))
    val wide = write(spark.range(3).selectExpr("id AS a", "CAST(id AS STRING) AS b"))
    val hidden = write(spark.range(3).selectExpr("'x' AS hidden"))
    val conf = spark.sparkContext.hadoopConfiguration
    def layout(first: Path, second: Path, extra: (Path, String)*): String = {
      val d = tmpDir("footer_mixed")
      val files = Seq(first -> "part-00000.parquet", second -> "part-00001.parquet",
        hidden -> ".part-hidden.parquet", hidden -> "_hidden.parquet") ++ extra
      files.foreach { case (src, name) => FileUtil.copy(fs, src, fs, new Path(d, name), false, conf) }
      d
    }
    val narrowFirst = layout(narrow, wide)
    val wideFirst = layout(wide, narrow)
    assert(spark.read.parquet(narrowFirst).schema.fieldNames.toSeq == Seq("a"))
    assert(spark.read.parquet(wideFirst).schema.fieldNames.toSeq == Seq("a", "b"))
    assertSameSchema(narrowFirst)
    assertSameSchema(wideFirst)
    // summary files come before every data file, `_common_metadata` first
    val summaries = layout(narrow, narrow, wide -> "_metadata", hidden -> "_common_metadata")
    assert(spark.read.parquet(summaries).schema.fieldNames.toSeq == Seq("hidden"))
    assertSameSchema(summaries)
    assertSameSchema(layout(narrow, narrow, wide -> "_metadata"))
  }

  test("a multi-path read takes the same file as Spark's inference") {
    val dir = "/root/testdata/sf0.01"
    assertSameSchema(s"$dir/region.parquet", s"$dir/nation.parquet")
    assertSameSchema(s"$dir/nation.parquet", s"$dir/region.parquet")
  }

  test("a missing path and an empty directory raise Spark's own error") {
    def condition(read: => DataFrame): String =
      intercept[AnalysisException](read).getCondition
    val missing = s"${tmpDir("footer_missing")}/absent"
    val empty = tmpDir("footer_empty")
    Seq(missing, empty).foreach { p =>
      assert(FooterSchema.infer(spark, Seq(p)).isEmpty)
      assert(condition(FooterSchema.read(spark, Seq(p))) == condition(spark.read.parquet(p)), p)
    }
    assert(condition(FooterSchema.read(spark, Seq(missing))) == "PATH_NOT_FOUND")
    assert(condition(FooterSchema.read(spark, Seq(empty))) == "UNABLE_TO_INFER_SCHEMA")
  }

  test("a Tables read, a ParquetSource load and Tables.events start no Spark job") {
    val dir = "/root/testdata/sf0.01"
    def jobs(body: => Unit): Int = JobMetrics.tagged(spark.sparkContext) { m =>
      body
      assert(m.quiesce())
      m.totals.jobs
    }
    // the check is not vacuous: Spark's own schema-less read starts one
    assert(jobs(spark.read.parquet(s"$dir/orders.parquet")) >= 1)
    assert(jobs(Tables(spark, dir, "orders")) == 0)
    assert(jobs(ParquetSource(s"$dir/lineitem.parquet").load(spark)) == 0)
    assert(jobs(Tables.events(spark, dir)) == 0)
  }

  /** An events table whose `ts` is INT64 `TIMESTAMP(NANOS)`, the encoding
    * Spark itself never writes (pyarrow's `timestamp[ns]`). */
  private val NanosBase = 1700000000123456789L
  private def writeNanosEvents(file: String): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id;
        |  optional binary event_type (STRING);
        |  optional double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val writer = ExampleParquetWriter.builder(new Path(file)).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    val groups = new SimpleGroupFactory(schema)
    try (0 until 3).foreach { i =>
      writer.write(groups.newGroup().append("event_id", i.toLong)
        .append("ts", NanosBase + i * 1000L).append("user_id", 1L)
        .append("event_type", "click").append("value", 1.0).append("props", "{}"))
    } finally writer.close()
  }
  private val wantMicros = (0 until 3).map(i => i.toLong -> (NanosBase + i * 1000L) / 1000).toMap

  /** Runs `body` with the session's nanos conf unset, and asserts that
    * `body` leaves it unset. */
  private def withoutNanosConf(body: => Unit): Unit = {
    val saved = spark.conf.getOption(NanosKey)
    spark.conf.unset(NanosKey)
    try {
      body
      assert(spark.conf.get(NanosKey) == "false", "the session's nanosAsLong was written")
    } finally saved.foreach(spark.conf.set(NanosKey, _))
  }

  test("Tables.events decodes INT64 nanos without the session conf, vectorized and row-based") {
    val dir = tmpDir("footer_nanos")
    writeNanosEvents(s"$dir/events.parquet")
    withoutNanosConf {
      assert(FooterSchema.infer(spark, Seq(s"$dir/events.parquet"), nanosAsLong = true)
        .get("ts").dataType == LongType)
      val rowBased = SessionScope.child(spark)
      rowBased.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
      Seq(spark, rowBased).foreach { s =>
        val ev = Tables.events(s, dir)
        assert(ev.schema("ts").dataType == TimestampType)
        val got = ev.selectExpr("event_id", "unix_micros(ts)").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == wantMicros, s.conf.get("spark.sql.parquet.enableVectorizedReader"))
      }
    }
  }

  test("readEventStream decodes INT64 nanos per micro-batch without the session conf") {
    Seq(None, Some(true)).foreach { nanosTs =>
      val dir = tmpDir("footer_nanos_stream")
      writeNanosEvents(s"$dir/part-00000.parquet")
      withoutNanosConf {
        val stream = EventStreams.readEventStream(spark, dir, nanosTs = nanosTs)
        val name = s"footer_nanos_${nanosTs.isDefined}"
        val q = stream.selectExpr("event_id", "unix_micros(ts) AS us")
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        val got = spark.table(name).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == wantMicros, s"nanosTs=$nanosTs")
      }
    }
  }

  test("Tables.events and readEventStream leave the session's nanosAsLong as they found it") {
    val dir = "/root/testdata/sf0.01"
    val stream = tmpDir("footer_stream_conf")
    Tables.events(spark, dir).write.mode("overwrite").parquet(stream)
    Seq(None, Some("true"), Some("false")).foreach { prior =>
      val saved = spark.conf.getOption(NanosKey)
      prior.fold(spark.conf.unset(NanosKey))(spark.conf.set(NanosKey, _))
      val before = spark.conf.get(NanosKey)
      try {
        Tables.events(spark, dir)
        assert(spark.conf.get(NanosKey) == before, s"Tables.events, prior $prior")
        Seq(None, Some(true), Some(false)).foreach { nanosTs =>
          EventStreams.readEventStream(spark, stream, nanosTs = nanosTs)
          assert(spark.conf.get(NanosKey) == before, s"readEventStream($nanosTs), prior $prior")
        }
      } finally saved.fold(spark.conf.unset(NanosKey))(spark.conf.set(NanosKey, _))
    }
  }
}
