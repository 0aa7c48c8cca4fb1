package graft

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSuite {

  private def ts(minute: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  /** Run `body` on the RocksDB state store provider (state API v2
    * needs it), restoring the session's previous provider after. */
  private def withRocksDb[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("watermarked tumbling-window aggregation over a memory stream") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    val q = EventStreams.hourlyCounts(ms.toDF())
      .writeStream.format("memory").queryName("hourly").outputMode("update").start()
    try {
      ms.addData(
        Event(1, ts(5), 1, "click", 1.0),
        Event(2, ts(20), 2, "click", 2.0),
        Event(3, ts(70), 1, "view", 3.0))
      q.processAllAvailable()
      val res = spark.table("hourly")
        .select(col("window.start").cast("string").as("w"), col("event_type"),
          col("n_events"), col("sum_value_cents"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(res.contains(("2024-01-01 00:00:00", "click", 2L, 300L)))
      assert(res.contains(("2024-01-01 01:00:00", "view", 1L, 300L)))
    } finally q.stop()
  }

  test("sliding windows: one event lands in window-length/slide = 4 windows") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    val q = graft.streaming.EventStreams.slidingCounts(
        ms.toDF().select(col("ts"), col("event_type"), col("value")))
      .writeStream.format("memory").queryName("sliding").outputMode("complete").start()
    try {
      ms.addData(Event(1, ts(30), 1, "click", 2.0)) // 00:30 → 4 windows
      q.processAllAvailable()
      val rows = spark.table("sliding").collect()
      assert(rows.length == 4, rows.mkString(","))
      assert(rows.forall(_.getAs[Long]("n_events") == 1L))
      val starts = rows.map(_.getAs[org.apache.spark.sql.Row]("window")
        .getAs[java.sql.Timestamp]("start").toString).sorted
      // windows start every 15 min from 23:45 through the event's 00:30
      assert(starts.head.contains("23:45:00") && starts.last.contains("00:30:00"), starts.mkString(","))
    } finally q.stop()
  }

  test("session_window groups events by 30-minute inactivity gap") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    // session_window aggregations only support append mode: rows emit
    // once the watermark passes session end + gap
    val q = ms.toDF()
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session), then one 60 min later
      ms.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(10), 1, "click", 2.0),
        Event(3, ts(70), 1, "click", 4.0))
      q.processAllAvailable()
      // advance the watermark (2h) far past both sessions to flush them
      ms.addData(Event(4, ts(600), 2, "click", 0.0))
      q.processAllAvailable()
      val res = spark.table("sessions")
        .select("user_id", "n_events", "session_value")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(res.contains((1L, 2L, 3.0)))
      assert(res.contains((1L, 1L, 4.0)))
    } finally q.stop()
  }

  test("restart from checkpoint resumes exactly-once: old files skipped, new files processed") {
    // the operational property a 100 TB/day ingest lives on: stop the
    // query, add data, restart with the SAME checkpoint — the file
    // source must resume past everything already committed (no
    // reprocessing) and the file sink's metadata log must make the
    // output exactly-once end to end
    import spark.implicits._
    val dir = tmpDir("restart")
    val (src, out, chk) = (s"$dir/src", s"$dir/out", s"$dir/chk")
    def writeBatch(ids: Range): Unit =
      ids.map(i => Event(i.toLong, ts(i % 300), i.toLong % 7, "click", 1.0))
        .toDF().withColumn("props", lit("{}"))
        .write.mode("append").parquet(src)
    def run(): Unit = {
      val q = EventStreams.readEventStream(spark, src, nanosTs = Some(false))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    writeBatch(1 to 100)
    run()
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst == 100L)
    writeBatch(101 to 180)
    run() // second incarnation, same checkpoint
    val rows = spark.read.parquet(out).select("event_id").collect().map(_.getLong(0))
    assert(rows.length == 180)          // no duplicates from reprocessing
    assert(rows.toSet == (1L to 180L).toSet) // nothing skipped either
  }

  test("bounded trigger (maxFilesPerTrigger) drains a backlog over rate-limited exactly-once micro-batches") {
    // The ingest-backpressure contract at 100 TB/day: when a query
    // starts (or restarts) against a deep file backlog, the bounded
    // trigger must NOT load the whole backlog into one giant
    // micro-batch (OOM / hour-long batches / watermark stalls) — it
    // drains at maxFilesPerTrigger per batch, each batch committed
    // exactly-once to the checkpoint before the next starts, so a
    // crash mid-drain resumes where it left off instead of starting
    // over.
    import spark.implicits._
    val dir = tmpDir("backpressure")
    val (src, out, chk) = (s"$dir/src", s"$dir/out", s"$dir/chk")
    def arrive(b: Int): Unit =
      (b * 10 until b * 10 + 10)
        .map(i => Event(i.toLong, ts(i % 300), i.toLong % 7, "click", 1.0))
        .toDF().withColumn("props", lit("{}"))
        .repartition(1) // exactly ONE parquet file per arrival
        .write.mode("append").parquet(src)
    (0 until 8).foreach(arrive) // 8-file backlog BEFORE the query exists
    def drain(): Array[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
      val q = EventStreams
        .readEventStream(spark, src, maxFilesPerTrigger = 2, nanosTs = Some(false))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .start()
      try { q.processAllAvailable(); q.recentProgress.filter(_.numInputRows > 0) }
      finally q.stop()
    }
    val p1 = drain()
    // 8 files / 2 per trigger = 4 rate-limited batches of 2×10 rows —
    // never one 80-row gulp
    assert(p1.length == 4, p1.map(_.numInputRows).mkString(","))
    assert(p1.forall(_.numInputRows == 20), p1.map(_.numInputRows).mkString(","))
    assert(p1.map(_.batchId).toSeq == p1.map(_.batchId).toSeq.sorted)
    // per-batch commits are durable: a new incarnation on the same
    // checkpoint sees only files that arrived after the drained backlog
    arrive(8); arrive(9)
    val p2 = drain()
    assert(p2.map(_.numInputRows).sum == 20, p2.map(_.numInputRows).mkString(","))
    val ids = spark.read.parquet(out).select("event_id").collect().map(_.getLong(0))
    assert(ids.length == 100)                   // no batch replayed
    assert(ids.toSet == (0L until 100L).toSet)  // none skipped either
  }

  test("stream-static join: per-batch dim enrichment, broadcast plan, unmatched keys NULL-pad") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "trial")).toDF("user_id", "segment")
    val ms = MemoryStream[Event]
    val enriched = ms.toDF().join(dim, Seq("user_id"), "left_outer")
    val q = enriched.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      ms.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(1), 3, "click", 1.0)) // user 3 not in the dim
      q.processAllAvailable()
      val res = spark.table("enriched").select("event_id", "segment")
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(res(1L) == Some("gold"))
      assert(res(2L) == None)        // left outer: stream row survives
      // no state store: stream-static joins re-bind the batch side per
      // micro-batch instead of accumulating join state
      assert(q.lastProgress.stateOperators.isEmpty ||
        q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
      // the small dim side must ride a broadcast join, as in batch
      val plan = q
        .asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan)
    } finally q.stop()
  }

  test("stateful last-touch attribution: state carries across micro-batches, ties + no-click cases") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    val q = EventStreams.attributeStateful(ms.toDS())
      .writeStream.format("memory").queryName("attr").outputMode("append").start()
    try {
      // batch 1: user 1 clicks twice then purchases (latest click wins);
      // user 2 purchases with no click at all (null attribution)
      ms.addData(
        Event(10, ts(0), 1, "click", 0.0),
        Event(11, ts(5), 1, "click", 0.0),
        Event(12, ts(9), 1, "purchase", 5.0),
        Event(20, ts(9), 2, "purchase", 7.0))
      q.processAllAvailable()
      // batch 2: a LATER purchase by user 1 — the click state must have
      // carried across batches; user 2's click arrives only now, so the
      // next user-2 purchase attributes but the first one stays null
      ms.addData(
        Event(21, ts(15), 2, "click", 0.0),
        Event(13, ts(20), 1, "purchase", 3.0),
        Event(22, ts(30), 2, "purchase", 1.0))
      q.processAllAvailable()
      val res = spark.table("attr")
        .select("purchase_id", "click_id")
        .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
      assert(res(12L).contains(11L)) // latest of the two clicks
      assert(res(20L).isEmpty)       // no click ever seen
      assert(res(13L).contains(11L)) // state carried into batch 2
      assert(res(22L).contains(21L)) // user 2's click attributes now
      // and the streaming result matches the batch as-of semantics on
      // this in-order stream: same (purchase → click) map
      assert(res.size == 4)
    } finally q.stop()
  }

  test("stateful attribution enforces the TTL in event time, not just via state eviction") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    // 1-minute attribution window; the expired click and the purchase
    // arrive in the SAME micro-batch, so state-timeout eviction cannot
    // have fired — only the event-time check can reject it
    val q = EventStreams.attributeStateful(ms.toDS(), ttlMs = 60L * 1000)
      .writeStream.format("memory").queryName("attr_ttl").outputMode("append").start()
    try {
      ms.addData(
        Event(1, ts(0), 1, "click", 0.0),
        Event(2, ts(0), 1, "purchase", 1.0), // same ts, later id → in-window
        Event(3, ts(2), 1, "purchase", 2.0)) // 120 s after the click → expired
      q.processAllAvailable()
      val res = spark.table("attr_ttl")
        .select("purchase_id", "click_id")
        .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
      assert(res(2L).contains(1L))
      assert(res(3L).isEmpty, "purchase beyond the TTL must not attribute")
    } finally q.stop()
  }

  test("stateful forward attribution: earliest following purchase, ties, horizon NULLs") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    val q = EventStreams.attributeForwardStateful(ms.toDS(),
        horizonMs = 10L * 60 * 1000, watermark = "10 minutes")
      .writeStream.format("memory").queryName("fattr").outputMode("append").start()
    try {
      // batch 1: user 1 clicks twice, then purchases — BOTH clicks get
      // that purchase (it is the earliest following for each); user 2's
      // clickless purchase emits nothing (forward accounts clicks)
      ms.addData(
        Event(10, ts(0), 1, "click", 0.0),
        Event(11, ts(5), 1, "click", 0.0),
        Event(12, ts(9), 1, "purchase", 5.0),
        Event(20, ts(9), 2, "purchase", 7.0))
      q.processAllAvailable()
      // batch 2: user 2 converts within horizon; user 3 exercises the
      // strict (ts, id) tie — purchase 29 ties click 30 with a SMALLER
      // id (not strictly after → no match), purchase 31 ties with a
      // larger id (matches, latency 0); user 1's click 13 stays pending
      ms.addData(
        Event(21, ts(15), 2, "click", 0.0),
        Event(22, ts(22), 2, "purchase", 1.0),
        Event(29, ts(40), 3, "purchase", 0.0),
        Event(30, ts(40), 3, "click", 0.0),
        Event(31, ts(40), 3, "purchase", 2.0),
        Event(13, ts(20), 1, "click", 0.0))
      q.processAllAvailable()
      // batch 3: a flusher pushes the watermark past click 13's horizon
      // (t20 + 10 min) — it must emit exactly one NULL row
      ms.addData(Event(90, ts(120), 9, "purchase", 0.0))
      q.processAllAvailable()
      val res = spark.table("fattr")
        .select("click_id", "purchase_id", "latency_ms")
        .collect().map(r => r.getLong(0) ->
          (Option(r.get(1)).map(_.asInstanceOf[Long]),
            Option(r.get(2)).map(_.asInstanceOf[Long]))).toMap
      assert(res(10L) == (Some(12L), Some(9L * 60 * 1000))) // earliest following
      assert(res(11L) == (Some(12L), Some(4L * 60 * 1000))) // same purchase, both clicks
      assert(res(21L) == (Some(22L), Some(7L * 60 * 1000)))
      assert(res(30L) == (Some(31L), Some(0L)), "tie must match only the larger id")
      assert(res(13L) == (None, None), "unconverted click NULLs at horizon")
      assert(res.size == 5, s"exactly one row per click: $res")
    } finally q.stop()
  }

  test("stateful forward attribution restart from checkpoint: rows exactly-once") {
    import spark.implicits._
    val dir = tmpDir("fattr_restart")
    val (src, out, chk) = (s"$dir/src", s"$dir/out", s"$dir/chk")
    def writeFile(events: Event*): Unit =
      events.toDF().withColumn("props", lit("{}"))
        .repartition(1).write.mode("append").parquet(src)
    def run(): Unit = {
      val ds = EventStreams.readEventStream(spark, src, nanosTs = Some(false))
        .select("event_id", "ts", "user_id", "event_type", "value").as[Event]
      val q = EventStreams.attributeForwardStateful(ds,
          horizonMs = 30L * 60 * 1000, watermark = "10 minutes")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    writeFile(
      Event(1, ts(0), 1, "click", 0.0), Event(2, ts(5), 2, "click", 0.0),
      Event(3, ts(10), 1, "purchase", 1.0))
    run() // incarnation 1: user 1 converts; user 2's click stays pending
    val after1 = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("click_id"), Option(r.getAs[Any]("purchase_id"))))
    assert(after1.toSeq == Seq((1L, Some(3L))), after1.toSeq.toString)
    // incarnation 2: flusher pushes the watermark past user 2's horizon
    // (t5 + 30 min) — the pending click and its armed timeout must have
    // survived the restart and emit exactly one NULL row
    writeFile(Event(50, ts(200), 9, "click", 0.0))
    run()
    val after2 = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("click_id"), Option(r.getAs[Any]("purchase_id"))))
    assert(after2.sortBy(_._1).toSeq == Seq((1L, Some(3L)), (2L, None)),
      after2.toSeq.toString)
    // incarnation 3: nothing new — no batch replay, no duplicate rows
    run()
    assert(spark.read.parquet(out).count() == 2)
    // incarnation 4: flush the flusher's own click (t200 + 30 min)
    writeFile(Event(60, ts(400), 8, "purchase", 0.0))
    run()
    val finalRows = spark.read.parquet(out).collect().map(_.getAs[Long]("click_id"))
    assert(finalRows.length == 3 && finalRows.count(_ == 50L) == 1,
      s"click 50 must NULL exactly once: ${finalRows.toSeq}")
  }

  test("file-source stream: micro-batches discover parquet files, windowed agg") {
    import spark.implicits._
    val dir = tmpDir("evstream")
    val out = "file_hourly"
    // two "arrivals" of event files
    Seq(Event(1, ts(5), 1, "click", 1.0), Event(2, ts(20), 2, "click", 2.0))
      .toDF().withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .write.parquet(s"$dir/batch1")
    val stream = graft.streaming.EventStreams.readEventStream(
      spark, s"$dir/batch1", nanosTs = Some(false))
    val q = graft.streaming.EventStreams.hourlyCounts(stream)
      .writeStream.format("memory").queryName(out).outputMode("update").start()
    try {
      q.processAllAvailable()
      val res = spark.table(out).select("event_type", "n_events").collect()
      assert(res.map(r => (r.getString(0), r.getLong(1))).toSet == Set(("click", 2L)))
    } finally q.stop()
  }

  test("readEventStream auto-detects the real events table's ts encoding") {
    // file stream sources need a directory: stage the driver testdata
    // (whatever ts encoding the current generation uses — the point of
    // auto-detection is that this test never hard-codes it)
    val dir = java.nio.file.Paths.get(tmpDir("autoev"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = graft.streaming.EventStreams.readEventStream(spark, dir.toString)
    assert(stream.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType) // normalized, whatever the file held
    val q = stream
      .groupBy().count()
      .writeStream.format("memory").queryName("auto_events").outputMode("complete").start()
    try {
      q.processAllAvailable()
      assert(spark.table("auto_events").head().getLong(0) == 1000L)
    } finally q.stop()
  }

  test("readEventStream auto-detects legacy int64-nanos ts and truncates to micros") {
    import spark.implicits._
    val dir = s"${tmpDir("nanoev")}/src"
    val base = 1700000000000000000L // epoch nanos, beyond a double's 2^53
    Seq((1L, base, 1L, "click", 1.0, "{}"),
        (2L, base + 90L * 60 * 1000000000L, 2L, "view", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(dir)
    val stream = graft.streaming.EventStreams.readEventStream(spark, dir)
    assert(stream.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val q = stream.selectExpr("event_id", "unix_micros(ts) AS us")
      .writeStream.format("memory").queryName("nano_events").outputMode("append").start()
    try {
      q.processAllAvailable()
      val us = spark.table("nano_events").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(us(1L) == base / 1000)      // exact integer truncation,
      assert(us(2L) == (base + 90L * 60 * 1000000000L) / 1000) // no double rounding
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark: at-least-once source deduped") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    val q = ms.toDF().withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName("deduped").outputMode("append").start()
    try {
      ms.addData(Event(1, ts(0), 1, "click", 1.0), Event(1, ts(0), 1, "click", 1.0))
      q.processAllAvailable()
      ms.addData(Event(1, ts(1), 1, "click", 1.0), Event(2, ts(2), 1, "view", 2.0))
      q.processAllAvailable()
      val ids = spark.table("deduped").select("event_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L)) // duplicate event_id 1 dropped across batches
    } finally q.stop()
  }

  test("stream-stream join: purchase within an hour of a click") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    val q = graft.streaming.EventStreams.clickToPurchase(ms.toDF())
      .writeStream.format("memory").queryName("attributed").outputMode("append").start()
    try {
      ms.addData(
        Event(1, ts(0), 1, "click", 0.0),
        Event(2, ts(30), 1, "purchase", 9.99),   // within the hour → joins
        Event(3, ts(0), 2, "click", 0.0),
        Event(4, ts(90), 2, "purchase", 5.0))    // past the hour → no join
      q.processAllAvailable()
      ms.addData(Event(5, ts(600), 3, "click", 0.0)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("attributed")
        .select("user_id", "click_id", "purchase_value").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq == Seq((1L, 1L, 9.99)))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join: unmatched click emitted with NULLs after watermark") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    val q = graft.streaming.EventStreams.clickToPurchaseOuter(ms.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("attributed_outer").outputMode("append").start()
    try {
      ms.addData(
        Event(1, ts(0), 1, "click", 0.0),
        Event(2, ts(30), 1, "purchase", 9.99),  // within the hour → matches
        Event(3, ts(0), 2, "click", 0.0))       // never purchases
      q.processAllAvailable()
      // the unmatched click may only surface once the watermark passes
      // click_ts + 1 hour — prove it is NOT emitted early…
      val early = spark.table("attributed_outer").collect()
      assert(!early.exists(_.getLong(0) == 2L), early.mkString(","))
      // …then advance event time far past the join window + watermark.
      // The watermark is tracked per input: the purchases side only
      // moves when a purchase arrives, and the join's NULL emission
      // waits on the SLOWEST side — so the late batch must advance both
      ms.addData(Event(4, ts(600), 3, "click", 0.0),
        Event(5, ts(600), 9, "purchase", 1.0))
      q.processAllAvailable()
      ms.addData(Event(6, ts(1200), 3, "view", 0.0),
        Event(7, ts(1200), 9, "purchase", 1.0))
      q.processAllAvailable()
      val rows = spark.table("attributed_outer")
        .select("user_id", "click_id", "purchase_value").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2))))
      assert(rows.toSet.contains((1L, 1L, Some(9.99))))
      assert(rows.toSet.contains((2L, 3L, None)), rows.mkString(","))
    } finally q.stop()
  }

  test("stream-stream FULL OUTER join: each side's unmatched rows NULL-emit after watermark") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    val q = EventStreams.clickToPurchaseFullOuter(ms.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("attributed_full").outputMode("append").start()
    try {
      ms.addData(
        Event(1, ts(0), 1, "click", 0.0),
        Event(2, ts(30), 1, "purchase", 9.99),  // within the hour → matches
        Event(3, ts(0), 2, "click", 0.0),       // never purchases → left NULL-pad
        Event(4, ts(30), 9, "purchase", 5.0))   // never clicked → right NULL-pad
      q.processAllAvailable()
      // neither unmatched row may surface before the watermark proves
      // its join window empty: clicks wait out click_ts + 1 h, and the
      // per-input watermark means the SLOWEST side gates both
      val early = spark.table("attributed_full").collect()
      assert(!early.exists(r => !r.isNullAt(0) && r.getLong(0) == 2L), early.mkString(","))
      assert(!early.exists(r => r.isNullAt(0) && r.getLong(3) == 9L), early.mkString(","))
      // advance event time far past join window + watermark on BOTH
      // filtered inputs (a click-only batch moves only the click side)
      ms.addData(Event(5, ts(600), 3, "click", 0.0),
        Event(6, ts(600), 8, "purchase", 1.0))
      q.processAllAvailable()
      ms.addData(Event(7, ts(1200), 3, "view", 0.0),
        Event(8, ts(1200), 8, "purchase", 1.0))
      q.processAllAvailable()
      val rows = spark.table("attributed_full").collect().map { r =>
        (Option(r.get(0)).map(_.asInstanceOf[Long]),   // click_user
          Option(r.get(1)).map(_.asInstanceOf[Long]),  // click_id
          Option(r.get(3)).map(_.asInstanceOf[Long]),  // purchase_user
          Option(r.get(5)).map(_.asInstanceOf[Double]) // purchase_value
        )
      }.toSet
      // matched pair emitted with both sides populated
      assert(rows.contains((Some(1L), Some(1L), Some(1L), Some(9.99))), rows.mkString(","))
      // LEFT side NULL-pad: the purchase columns of user 2's click
      assert(rows.contains((Some(2L), Some(3L), None, None)), rows.mkString(","))
      // RIGHT side NULL-pad: the click columns of user 9's purchase —
      // the surface a LEFT OUTER join can never produce
      assert(rows.contains((None, None, Some(9L), Some(5.0))), rows.mkString(","))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark: dedup horizon IS the watermark (evicted key re-admits)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    val q = ms.toDF().withColumn("props", org.apache.spark.sql.functions.lit("{}"))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName("deduped_horizon").outputMode("append").start()
    try {
      ms.addData(Event(1, ts(0), 1, "click", 1.0))
      q.processAllAvailable()
      // within the horizon: the duplicate id is dropped
      ms.addData(Event(1, ts(5), 1, "click", 1.0))
      q.processAllAvailable()
      assert(spark.table("deduped_horizon").count() == 1)
      // push the watermark far past ts(0)+10min → key 1's state evicts
      ms.addData(Event(2, ts(600), 2, "view", 0.0))
      q.processAllAvailable()
      // the operator guarantees dedup only WITHIN the watermark delay:
      // a re-arrival after eviction is a NEW row, not a silent drop —
      // the semantic that distinguishes it from unbounded-state
      // dropDuplicates, and the reason its state cannot accrete
      ms.addData(Event(1, ts(601), 1, "click", 1.0))
      q.processAllAvailable()
      val ids = spark.table("deduped_horizon").select("event_id").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 1L, 2L), ids.mkString(","))
    } finally q.stop()
  }

  test("foreachBatch: per-micro-batch idempotent sink (upsert pattern)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    val out = tmpDir("febatch")
    // foreachBatch is the bridge to batch-only sinks (JDBC upsert,
    // MERGE): batchId enables idempotent retries
    val q = ms.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        batch.withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
          .write.mode("append").parquet(s"$out/events")
      }
      .start()
    try {
      ms.addData(Event(1, ts(0), 1, "click", 1.0))
      q.processAllAvailable()
      ms.addData(Event(2, ts(1), 1, "view", 2.0))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$out/events")
      assert(got.count() == 2)
      assert(got.select("batch_id").distinct().count() == 2)
    } finally q.stop()
  }

  test("stateful transitions reproduce the batch lead() pairs across micro-batches") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val batch1 = Seq(
      // user 7: two events in batch 1, third arrives in batch 2 —
      // the carried state must supply the (view → purchase) pair
      Event(1, ts(0), 7, "click", 0.0), Event(2, ts(5), 7, "view", 0.0),
      // user 8: one event only in batch 1
      Event(3, ts(5), 8, "click", 0.0),
      // user 9: same-timestamp tie — (ts, event_id) order decides
      // the pair direction, exactly like the batch window's sort
      Event(11, ts(8), 9, "view", 0.0), Event(10, ts(8), 9, "click", 0.0))
    val batch2 = Seq(
      Event(4, ts(10), 7, "purchase", 0.0),
      Event(5, ts(12), 8, "view", 0.0))
    // the batch twin's exact formulation over the same rows
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val expected = (batch1 ++ batch2).toDF()
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col("user_id"), col("event_type"), col("to_type"))
      .as[(Long, String, String)].collect().sorted.toSeq
    val ms = MemoryStream[Event]
    val q = EventStreams.transitionsStateful(ms.toDS())
      .writeStream.format("memory").queryName("trans").outputMode("append").start()
    try {
      ms.addData(batch1: _*)
      q.processAllAvailable()
      ms.addData(batch2: _*)
      q.processAllAvailable()
      val got = spark.table("trans")
        .select(col("user_id"), col("from_type"), col("to_type"))
        .as[(Long, String, String)].collect().sorted.toSeq
      assert(got == expected,
        s"stream pairs $got diverged from batch lead() pairs $expected")
      assert(got.count(_._1 == 9L) == 1 &&
        got.contains((9L, "click", "view"))) // tie resolved by event_id
    } finally q.stop()

    // the state-API-v2 form: the LIVE Markov matrix in one query —
    // the groupBy(from, to).count() the v1 twin's doc delegates to the
    // consumer chains in-query under transformWithState
    withRocksDb {
      val ms2 = MemoryStream[Event]
      val q2 = EventStreams.transitionMatrixStream(ms2.toDS())
        .writeStream.format("memory").queryName("trans_matrix")
        .outputMode("update").start()
      try {
        ms2.addData(batch1: _*)
        q2.processAllAvailable()
        ms2.addData(batch2: _*)
        q2.processAllAvailable()
        val rows = spark.table("trans_matrix")
          .select(col("from_type"), col("to_type"), col("n"))
          .as[(String, String, Long)].collect()
        val fin = rows.groupBy(r => (r._1, r._2)).values.map(_.maxBy(_._3))
          .map(r => ((r._1, r._2), r._3)).toMap
        val matrixExpected = expected.groupBy(p => (p._2, p._3))
          .map { case (k, v) => k -> v.size.toLong }
        assert(fin == matrixExpected,
          s"in-query matrix $fin diverged from batch pair counts $matrixExpected")
      } finally q2.stop()
    }
  }

  test("streaming gap histogram equals the batch session_gap_dist over the same events") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    def t(sec: Long): java.sql.Timestamp = new java.sql.Timestamp(1704067200000L + sec * 1000L)
    var id = 0L
    def ev(sec: Long, user: Long): Event = { id += 1; Event(id, t(sec), user, "click", 0.0) }
    // gaps engineered AT power-of-two boundaries (bucket edges) plus a
    // zero gap and a cross-batch pair the carried state must supply
    val batch1 = Seq(
      ev(0, 1), ev(1, 1),            // gap 1 s   → bucket 0
      ev(10, 2), ev(14, 2),          // gap 4 s   → bucket 2
      ev(100, 3), ev(100, 3),        // gap 0 s   → bucket 0 (same-second tie)
      ev(0, 4))                      // user 4: predecessor for batch 2
    val batch2 = Seq(
      ev(1024, 4),                   // gap 1024 s → bucket 10, ACROSS batches
      ev(1039, 2))                   // gap 1025 s → bucket 10
    val all = batch1 ++ batch2

    // the BATCH session_gap_dist — the full oracle-gated plan over the
    // same rows via a temp parquet table dir
    val dir = tmpDir("gapdist_batch")
    all.toDF().withColumn("props", lit(null).cast("string"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val expected = graft.SparkEntry.queries("session_gap_dist")(spark, dir)
      .select(col("bucket"), col("n_gaps"), col("sum_gap_s"), col("share_mille"))
      .as[(Long, Long, Long, Long)].collect().toSet

    val ms = MemoryStream[Event]
    // generous horizon so no user's state evicts mid-test: the batch
    // plan pairs consecutive events at ANY distance
    val q = EventStreams.sessionGapsStream(ms.toDS(),
        idleMs = 48L * 3600 * 1000, watermark = "48 hours")
      .writeStream.format("memory").queryName("gapdist")
      .outputMode("append").start()
    try {
      ms.addData(batch1: _*)
      q.processAllAvailable()
      ms.addData(batch2: _*)
      q.processAllAvailable()
      // the documented composition: append-mode gap emission + the
      // batch-side gapHistogram rollup (foreachBatch-shaped — counts
      // are associative, so accumulating them per batch is the same
      // fold this one-shot application performs)
      val got = EventStreams.gapHistogram(spark.table("gapdist"))
        .select(col("bucket"), col("n_gaps"), col("sum_gap_s"), col("share_mille"))
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == expected,
        s"stream gap histogram $got diverged from batch session_gap_dist $expected")
      // and the scenario covers what it claims: bucket edges + the
      // cross-batch gap landed
      assert(got.exists(r => r._1 == 10L && r._2 == 2L))
      assert(got.exists(r => r._1 == 0L && r._2 == 2L))
      // per-gap emission itself is exact: one row per consecutive
      // pair, cross-batch pair included
      assert(spark.table("gapdist").count() == all.size - 4) // 4 users' first events
    } finally q.stop()

    // the state-API-v2 form: the SAME fold under transformWithState
    // with a declared event-time column, which admits the bucket
    // aggregation IN-QUERY (the chaining fMGWS categorically cannot
    // do). Needs the RocksDB state store; scoped to this query.
    withRocksDb {
      val ms2 = MemoryStream[Event]
      val q2 = EventStreams.sessionGapDistStream(ms2.toDS(),
          idleMs = 48L * 3600 * 1000, watermark = "48 hours")
        .writeStream.format("memory").queryName("gapdist_v2")
        .outputMode("update").start()
      try {
        ms2.addData(batch1: _*)
        q2.processAllAvailable()
        ms2.addData(batch2: _*)
        q2.processAllAvailable()
        val rows = spark.table("gapdist_v2")
          .select(col("bucket"), col("n_gaps"), col("sum_gap_s"))
          .as[(Long, Long, Long)].collect()
        // update mode re-emits; counts only grow → last version per bucket
        val fin = rows.groupBy(_._1).values.map(_.maxBy(_._2)).toSeq
        val tot = fin.map(_._2).sum
        val got2 = fin.map { case (b, n, s) => (b, n, s, n * 1000L / tot) }.toSet
        assert(got2 == expected,
          s"transformWithState gap histogram $got2 diverged from batch $expected")
      } finally q2.stop()
    }
  }

  test("streaming MOSUM equals the batch rate_mosum over the same events (frozen moments)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    def t(hour: Int, min: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-01 $hour%02d:$min%02d:00")
    var id = 0L
    def ev(hour: Int, min: Int, tpe: String): Event = {
      id += 1; Event(id, t(hour, min), 1L, tpe, 0.0)
    }
    // click: 16 calm hours at 2/hour then a 6-hour level shift to
    // 12/hour — trailing-6 windows late in the shift must flag (the
    // moments include the shift itself, so the shift must clear the
    // variance it inflates); view: steady 1/hour control, dev ≡ 0
    val click = (0 to 15).flatMap(h => Seq(ev(h, 1, "click"), ev(h, 31, "click"))) ++
      (16 to 21).flatMap(h => (0 to 11).map(m => ev(h, m * 4 + 1, "click")))
    val view = (0 to 21).map(h => ev(h, 15, "view"))
    val all = click ++ view

    // the BATCH rate_mosum over the same rows — the oracle-gated plan
    val dir = tmpDir("mosum_batch")
    all.toDF().withColumn("props", lit(null).cast("string"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val expected = graft.SparkEntry.queries("rate_mosum")(spark, dir)
      .select(col("event_type"), col("hr"), col("t6"), col("shifted"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(expected.exists(r => r._1 == "click" && r._4 == 1L), "scenario must shift")
    assert(expected.filter(_._1 == "view").forall(_._4 == 0L), "control must stay calm")

    // frozen moments = the same historical series the batch used (the
    // production contract: yesterday's batch job publishes them)
    val moments = all.toDF()
      .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000").as("hr"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"), sum(col("c") * col("c")).as("ss"))
      .as[(String, Long, Long, Long)].collect()
      .map { case (tpe, n, s, ss) => tpe -> ((n, s, ss)) }.toMap

    val ms = MemoryStream[Event]
    val q = EventStreams.rateMosumStream(ms.toDS(), moments)
      .writeStream.format("memory").queryName("mosum")
      .outputMode("append").start()
    try {
      // split mid-hour AND mid-shift: open-hour counts and the trailing
      // history must both survive the batch boundary
      val (b1, b2) = all.sortBy(e => (e.ts.getTime, e.event_id)).splitAt(23)
      ms.addData(b1: _*)
      q.processAllAvailable()
      ms.addData(b2: _*)
      q.processAllAvailable()
      // flusher on a third type pushes the watermark past every open
      // hour's end so the LAST hours emit via the timeout path
      ms.addData(Event(99999L,
        java.sql.Timestamp.valueOf("2024-01-02 04:00:00"), 1L, "flush", 0.0))
      q.processAllAvailable()
      val got = spark.table("mosum")
        .select(col("event_type"), col("hr"), col("t6"), col("shifted"))
        .as[(String, Long, Long, Long)].collect().toSet
      assert(got == expected,
        s"stream MOSUM $got diverged from batch rate_mosum $expected")
    } finally q.stop()
  }

  test("transformWithState gap histogram restarts from a RocksDB checkpoint exactly") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    def t(sec: Long): java.sql.Timestamp = new java.sql.Timestamp(1704067200000L + sec * 1000L)
    val dir = tmpDir("gapdist_restart")
    val (src, out, chk) = (s"$dir/src", s"$dir/out", s"$dir/chk")
    def writeFile(events: Event*): Unit =
      events.toDF().withColumn("props", lit("{}"))
        .repartition(1).write.mode("append").parquet(src)
    withRocksDb {
      def run(): Unit = {
        val ds = EventStreams.readEventStream(spark, src, nanosTs = Some(false))
          .select("event_id", "ts", "user_id", "event_type", "value").as[Event]
        val q = EventStreams.sessionGapDistStream(ds,
            idleMs = 48L * 3600 * 1000, watermark = "48 hours")
          .writeStream.outputMode("update")
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.write.mode("append").parquet(out); ()
          }
          .option("checkpointLocation", chk)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      // incarnation 1: two gaps (1 s and 4 s) + a dangling last event
      writeFile(Event(1, t(0), 1, "click", 0.0), Event(2, t(1), 1, "click", 0.0),
        Event(3, t(10), 2, "click", 0.0), Event(4, t(14), 2, "click", 0.0))
      run()
      // incarnation 2 must resume BOTH state layers from RocksDB: the
      // per-user last events (user 2's 1024 s cross-incarnation gap)
      // and the bucket count grid (bucket 0's count grows to 2)
      writeFile(Event(5, t(2), 1, "click", 0.0), Event(6, t(1038), 2, "click", 0.0))
      run()
      val rows = spark.read.parquet(out)
        .select(col("bucket"), col("n_gaps"), col("sum_gap_s"))
        .as[(Long, Long, Long)].collect()
      val fin = rows.groupBy(_._1).values.map(_.maxBy(_._2)).toSet
      // gaps: 1 s (b0), 4 s (b2) from run 1; 1 s (b0), 1024 s (b10)
      // from run 2 — the b0 count of 2 and the b10 row exist ONLY if
      // both state layers survived the restart
      assert(fin == Set((0L, 2L, 2L), (2L, 1L, 4L), (10L, 1L, 1024L)),
        s"restarted histogram diverged: $fin")
    }
  }

  test("stateful funnel reproduces the batch min-timestamp step semantics") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    // 30-min inactivity report, 10-min watermark so a single flusher
    // event can push the watermark past every user's idle horizon
    val q = EventStreams.funnelStateful(ms.toDS(),
        idleMs = 30L * 60 * 1000, watermark = "10 minutes")
      .writeStream.format("memory").queryName("funnel").outputMode("append").start()
    try {
      ms.addData(
        // user 1: full ordered funnel → step 3
        Event(1, ts(0), 1, "click", 0.0), Event(2, ts(10), 1, "view", 0.0),
        Event(3, ts(20), 1, "purchase", 1.0),
        // user 2: a view BEFORE every click — batch's min-view < min-click
        // kills step 2 even though a later view follows → step 1
        Event(4, ts(0), 2, "view", 0.0), Event(5, ts(10), 2, "click", 0.0),
        Event(6, ts(15), 2, "view", 0.0),
        // user 3: click then purchase, no view → step 1
        Event(7, ts(0), 3, "click", 0.0), Event(8, ts(10), 3, "purchase", 1.0),
        // user 4: view only → step 0
        Event(9, ts(5), 4, "view", 0.0),
        // user 5: purchase between click and view → min-purchase < min-view → step 2
        Event(10, ts(0), 5, "click", 0.0), Event(11, ts(5), 5, "purchase", 1.0),
        Event(12, ts(10), 5, "view", 0.0))
      q.processAllAvailable()
      assert(spark.table("funnel").isEmpty) // nothing idle-closed yet
      // flusher: watermark → 90 min, past every idle horizon (≤ 50 min)
      ms.addData(Event(99, ts(100), 99, "click", 0.0))
      q.processAllAvailable()
      val got = spark.table("funnel").collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[Int]("step")).toMap
      assert(got == Map(1L -> 3, 2L -> 1, 3L -> 1, 4L -> 0, 5L -> 2),
        s"per-user steps diverged from the batch semantics: $got")
      // the flusher itself is still inside its idle window — no report
      assert(!got.contains(99L))
    } finally q.stop()
  }

  test("stateful funnel restart from checkpoint: reports are exactly-once") {
    // the stateful-twin operational contract: stop the query, add
    // data, restart on the SAME checkpoint — state (incl. armed
    // event-time timeouts) resumes, committed micro-batches are not
    // reprocessed, and each user's funnel report lands in the sink
    // exactly once across incarnations
    import spark.implicits._
    val dir = tmpDir("funnel_restart")
    val (src, out, chk) = (s"$dir/src", s"$dir/out", s"$dir/chk")
    def writeFile(events: Event*): Unit =
      events.toDF().withColumn("props", lit("{}"))
        .repartition(1).write.mode("append").parquet(src)
    def run(): Unit = {
      val ds = EventStreams.readEventStream(spark, src, nanosTs = Some(false))
        .select("event_id", "ts", "user_id", "event_type", "value").as[Event]
      val q = EventStreams.funnelStateful(ds,
          idleMs = 30L * 60 * 1000, watermark = "10 minutes")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    writeFile(
      Event(1, ts(0), 1, "click", 0.0), Event(2, ts(10), 1, "view", 0.0),
      Event(3, ts(5), 2, "click", 0.0))
    run() // incarnation 1: both users' funnels still open
    assert(spark.read.schema(implicitly[org.apache.spark.sql.Encoder[
      EventStreams.FunnelOut]].schema).parquet(out).isEmpty)
    // incarnation 2: a flusher file pushes the watermark to 190 min,
    // past both idle horizons (40/35 min) — armed timeouts must have
    // survived the restart
    writeFile(Event(50, ts(200), 9, "click", 0.0))
    run()
    val after2 = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("step")))
    assert(after2.sorted.toSeq == Seq((1L, 2), (2L, 1)),
      s"exactly one report per closed user expected: ${after2.toSeq}")
    // incarnation 3: nothing new — a restart must not replay batches
    run()
    assert(spark.read.parquet(out).count() == 2)
    // incarnation 4: flush the flusher (watermark 390 > 200 + 30)
    writeFile(Event(60, ts(400), 8, "view", 0.0))
    run()
    val finalRows = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("step")))
    assert(finalRows.length == 3 && finalRows.count(_._1 == 9L) == 1,
      s"user 9 must report exactly once after its horizon passes: ${finalRows.toSeq}")
  }

  /** The sessionize restart contract: state carried across restarts
    * closes a session inline, a restart with no new data replays
    * nothing, and the armed event-time timeout comes back from the
    * checkpoint to close the last session exactly once. */
  private def sessionizeRestart(prefix: String): Unit = {
    import spark.implicits._
    val dir = tmpDir(prefix)
    val (src, out, chk) = (s"$dir/src", s"$dir/out", s"$dir/chk")
    def writeFile(events: Event*): Unit =
      events.toDF().withColumn("props", lit("{}"))
        .repartition(1).write.mode("append").parquet(src)
    def run(): Unit = {
      val ds = EventStreams.readEventStream(spark, src, nanosTs = Some(false))
        .select("event_id", "ts", "user_id", "event_type", "value").as[Event]
      val q = EventStreams.sessionizeStateful(ds)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    writeFile(Event(1, ts(0), 7, "click", 1.0), Event(2, ts(5), 7, "click", 2.0))
    run() // incarnation 1: session open, nothing emitted
    assert(spark.read.schema(implicitly[org.apache.spark.sql.Encoder[
      EventStreams.SessionOut]].schema).parquet(out).isEmpty)
    // incarnation 2: a 120-min-later event closes the first session
    // inline — session state carried across the restart
    writeFile(Event(3, ts(120), 7, "click", 4.0))
    run()
    val after2 = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[Double]("total_value")))
    assert(after2.toSeq == Seq((7L, 2L, 3.0)),
      s"first session must close exactly once across restarts: ${after2.toSeq}")
    // incarnation 3: nothing new — a restart must not replay batches
    run()
    assert(spark.read.parquet(out).count() == 1)
    // incarnation 4: a flusher pushes the watermark past user 7's idle
    // horizon (150 min < 480) — the armed timeout survived the restart
    // and closes the second session exactly once
    writeFile(Event(4, ts(600), 9, "view", 0.0))
    run()
    val finalRows = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_ms"),
        r.getAs[Long]("n_events")))
    assert(finalRows.length == 2 &&
      finalRows.count(r => r._1 == 7L && r._3 == 1L) == 1,
      s"timeout-closed second session exactly once: ${finalRows.toSeq}")
  }

  test("stateful sessionize restart from checkpoint: closed sessions emit exactly-once") {
    sessionizeRestart("sess_restart")
  }

  test("stateful sessionize restarts from a RocksDB checkpoint: inline and timer closes exactly-once") {
    withRocksDb(sessionizeRestart("sess_rocksdb_restart"))
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    val q = EventStreams.sessionizeStateful(ms.toDS())
      .writeStream.format("memory").queryName("stateful").outputMode("append").start()
    try {
      // batch 1: an open session for user 7
      ms.addData(Event(1, ts(0), 7, "click", 1.0), Event(2, ts(5), 7, "click", 2.0))
      q.processAllAvailable()
      assert(spark.table("stateful").isEmpty) // session still open
      // batch 2: an event past the gap closes the first session inline
      ms.addData(Event(3, ts(120), 7, "click", 4.0))
      q.processAllAvailable()
      val closed = spark.table("stateful")
        .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
          r.getAs[Double]("total_value")))
      assert(closed.toSeq == Seq((7L, 2L, 3.0)))
    } finally q.stop()
  }

  test("event-time-timeout operators survive a backlog drain whose rows are already behind the watermark") {
    // Spark drops late rows against the PREVIOUS batch's watermark but
    // checks setTimeoutTimestamp against the CURRENT one. Draining two
    // files one per trigger, batch 1 (file B) runs at watermark 03:00
    // (file A's 05:00 minus the 2 h delay) and still hands user 3's
    // 01:00 row to the state function: its 01:30 expiry can arm no timer
    import spark.implicits._
    val src = tmpDir("backlog_drain")
    def parquetFiles: Set[java.io.File] =
      new java.io.File(src).listFiles().filter(_.getName.endsWith(".parquet")).toSet
    def writeFile(events: Event*): Unit =
      events.toDF().withColumn("props", lit("{}"))
        .repartition(1).write.mode("append").parquet(src)
    writeFile(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(300), 2, "click", 2.0))
    val fileA = parquetFiles
    writeFile(Event(3, ts(60), 3, "click", 4.0))
    // file B must be the second trigger: the source orders by mtime
    (parquetFiles -- fileA).foreach(_.setLastModified(fileA.map(_.lastModified).max + 60000L))
    val halfHour = 30L * 60 * 1000
    def drain(name: String)(op: org.apache.spark.sql.Dataset[Event] =>
        org.apache.spark.sql.Dataset[_]): Array[org.apache.spark.sql.Row] = {
      val ds = EventStreams
        .readEventStream(spark, src, maxFilesPerTrigger = 1, nanosTs = Some(false))
        .select("event_id", "ts", "user_id", "event_type", "value").as[Event]
      val q = op(ds).writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      spark.table(name).collect()
    }
    drain("backlog_attribute")(EventStreams.attributeStateful(_, ttlMs = halfHour))
    drain("backlog_forward")(EventStreams.attributeForwardStateful(_, horizonMs = halfHour))
    drain("backlog_transitions")(EventStreams.transitionsStateful(_, idleMs = halfHour))
    drain("backlog_gaps")(EventStreams.sessionGapsStream(_, idleMs = halfHour))
    drain("backlog_funnel")(EventStreams.funnelStateful(_, idleMs = halfHour))
    // user 3's session closes inline, user 1's by timeout; user 2's
    // (05:00, expiry 05:30) is still open
    val sessions = drain("backlog_sessions")(EventStreams.sessionizeStateful(_, gapMs = halfHour))
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_ms"), r.getAs[Long]("n_events")))
    assert(sessions.sorted.toSeq == Seq((1L, ts(0).getTime, 1L), (3L, ts(60).getTime, 1L)),
      sessions.mkString(","))
  }

  test("rateAnomalyStream: live hours flagged against a frozen batch baseline") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // history of 4 hourly click counts [9,10,10,11]: n=4, S=40, SS=402
    // → 9·(n·SS−S²) = 72. An hour with 2 events: (4·2−40)² = 1024 > 72
    // → low-tail spike; an hour with 10: (40−40)² = 0 → clean.
    val baseline = spark.createDataFrame(Seq(("click", 4L, 40L, 402L)))
      .toDF("event_type", "n", "s", "ss")
    val ms = MemoryStream[Event]
    val q = EventStreams.rateAnomalyStream(ms.toDF(), baseline)
      .writeStream.format("memory").queryName("rate_anom").outputMode("update").start()
    try {
      ms.addData((1 to 10).map(i => Event(i.toLong, ts(i), i.toLong, "click", 1.0)): _*)
      ms.addData(Event(11, ts(65), 1, "click", 1.0), Event(12, ts(70), 2, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("rate_anom")
        .select(col("window.start").cast("string"), col("n_events"),
          col("is_spike"), col("tail"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
      assert(rows.contains(("2024-01-01 00:00:00", 10L, 0L, "low")),
        s"the in-band hour must not flag: $rows")
      assert(rows.contains(("2024-01-01 01:00:00", 2L, 1L, "low")),
        s"the starved hour must flag low: $rows")
    } finally q.stop()
  }

  test("streaming Bloom dedup: exact dups always flagged across batches, uniques pass at low fill") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[EventStreams.Doc]
    val q = EventStreams.bloomDedupStream(ms.toDS(), bitsPerGroup = 8192, groups = 8)
      .writeStream.format("memory").queryName("bloom_dedup").outputMode("update").start()
    try {
      // batch 1: three uniques + one intra-batch exact dup (id 4 = id 1)
      ms.addData(
        EventStreams.Doc(1L, "alpha beta gamma"),
        EventStreams.Doc(2L, "delta epsilon"),
        EventStreams.Doc(3L, "zeta eta theta"),
        EventStreams.Doc(4L, "alpha beta gamma"))
      q.processAllAvailable()
      // batch 2: a cross-batch dup of doc 2 (state carried) + a unique
      ms.addData(
        EventStreams.Doc(5L, "delta epsilon"),
        EventStreams.Doc(6L, "iota kappa lambda"))
      q.processAllAvailable()
      val res = spark.table("bloom_dedup").collect()
        .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      // no false negatives, ever: both duplicates flagged
      assert(res(4L), "intra-batch duplicate must be flagged")
      assert(res(5L), "cross-batch duplicate must be flagged (state carried)")
      // at 4 fingerprints x 4 bits in 8192-bit groups the fill is ~0.2%,
      // so these uniques cannot plausibly collide — flagged = a bug
      Seq(1L, 2L, 3L, 6L).foreach(id =>
        assert(!res(id), s"unique doc $id falsely flagged at negligible fill"))
      // duplicates carry the same fingerprint as their original
      val fps = spark.table("bloom_dedup").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fps(4L) == fps(1L) && fps(5L) == fps(2L))
    } finally q.stop()
  }

  test("streaming Bloom dedup under saturation: false positives appear, false negatives never") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[EventStreams.Doc]
    // deliberately tiny filter (64 bits/group, 2 groups): 60 uniques x
    // 4 bits saturate it, so unique docs WILL collide — the honest
    // failure mode. The guarantee that must survive anyway: every
    // exact duplicate is flagged.
    val q = EventStreams.bloomDedupStream(ms.toDS(), bitsPerGroup = 64, groups = 2)
      .writeStream.format("memory").queryName("bloom_sat").outputMode("update").start()
    try {
      val uniques = (1 to 60).map(i => EventStreams.Doc(i.toLong, s"unique text $i"))
      ms.addData(uniques: _*)
      q.processAllAvailable()
      // second batch: exact dups of five batch-1 docs, plus fresh uniques
      ms.addData((1 to 5).map(i =>
        EventStreams.Doc(100L + i, s"unique text $i")) ++
        (61 to 70).map(i => EventStreams.Doc(i.toLong, s"unique text $i")): _*)
      q.processAllAvailable()
      val res = spark.table("bloom_sat").collect()
        .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      // NO false negatives, even saturated: all five dups flagged
      (1 to 5).foreach(i => assert(res(100L + i), s"dup of doc $i missed"))
      // saturation is real: some uniques are falsely flagged (the
      // documented trade — they'd route to the exact verify in prod)
      val fp = (1L to 70L).count(res(_))
      assert(fp > 0, "64-bit groups at 70 docs should have false positives")
      // and the first batch's very first doc hit an empty filter
      assert(!res(1L))
    } finally q.stop()
  }

  test("streaming Bloom dedup restart from checkpoint: bitmap carried, no replay") {
    import spark.implicits._
    val dir = tmpDir("bloom_restart")
    val (src, out, chk) = (s"$dir/src", s"$dir/out", s"$dir/chk")
    def writeFile(docs: EventStreams.Doc*): Unit =
      docs.toDF().repartition(1).write.mode("append").parquet(src)
    def run(): Unit = {
      val ds = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[EventStreams.Doc]].schema)
        .parquet(src).as[EventStreams.Doc]
      val q = EventStreams.bloomDedupStream(ds, bitsPerGroup = 8192, groups = 4)
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[EventStreams.BloomFlag], _: Long) =>
          b.write.mode("append").parquet(out); ()
        }
        .option("checkpointLocation", chk)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    writeFile(EventStreams.Doc(1L, "first text"), EventStreams.Doc(2L, "second text"))
    run() // incarnation 1: both unique against an empty filter
    // incarnation 2: exact dup of doc 1 (bitmap carried in the
    // checkpoint) + a fresh unique
    writeFile(EventStreams.Doc(3L, "first text"), EventStreams.Doc(4L, "third text"))
    run()
    val res = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("dup_suspect")).toMap
    assert(res.size == 4, s"each doc exactly once across restarts: $res")
    assert(res(3L), "cross-restart duplicate must be flagged (bitmap carried)")
    Seq(1L, 2L, 4L).foreach(id =>
      assert(!res(id), s"unique doc $id falsely flagged at negligible fill"))
    // incarnation 3: nothing new — a restart must not replay batches
    run()
    assert(spark.read.parquet(out).count() == 4)
  }

  test("streaming Count-Min sketch: running estimates equal the one-shot fold, never undercount") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    val probes = Seq(1L, 2L, 999L) // heavy, light, never-seen
    val q = EventStreams.cmSketchStream(ms.toDF().as[Event], probes, d = 4, w = 64)
      .writeStream.format("memory").queryName("cm_stream").outputMode("update").start()
    try {
      // user 1 is heavy (7 events across two batches), user 2 light (2)
      ms.addData(
        (1 to 4).map(i => Event(i.toLong, ts(i), 1L, "click", 0.0)) ++
        Seq(Event(10L, ts(10), 2L, "click", 0.0)): _*)
      q.processAllAvailable()
      ms.addData(
        (5 to 7).map(i => Event(i.toLong, ts(20 + i), 1L, "click", 0.0)) ++
        Seq(Event(11L, ts(30), 2L, "click", 0.0),
          Event(12L, ts(31), 3L, "click", 0.0)): _*)
      q.processAllAvailable()
      // final (max-n) emission per probe
      val rows = spark.table("cm_stream").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      val maxN = rows.map(_._3).max
      val fin = rows.filter(_._3 == maxN).map(t => t._1 -> t._2).toMap
      assert(maxN == 10L)
      // independently folded reference grid over ALL users seen — the
      // stream's state after both batches must BE the batch sketch
      // (counters add; batching cannot change them)
      val w = 64
      val grid = Array.fill(4 * w)(0L)
      val seen = Seq.fill(4)(1L) ++ Seq(1L, 1L, 1L, 2L, 2L, 3L)
      seen.foreach(u => (0 until 4).foreach { i =>
        grid(i * w + (graft.functions.TextFunctions.portableHashJvm(u.toString, i) % w).toInt) += 1
      })
      def ref(uid: Long): Long = (0 until 4).map(i =>
        grid(i * w + (graft.functions.TextFunctions.portableHashJvm(uid.toString, i) % w).toInt)).min
      probes.foreach(p => assert(fin(p) == ref(p), s"probe $p: ${fin(p)} != ${ref(p)}"))
      // the CM guarantee: never below truth
      assert(fin(1L) >= 7L && fin(2L) >= 2L && fin(999L) >= 0L)
    } finally q.stop()
  }

  test("streaming KMV sketch: exact below k, identical to the batch fold") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    val q = EventStreams.distinctSketchStream(ms.toDF().as[Event], k = 16)
      .writeStream.format("memory").queryName("kmv_stream").outputMode("update").start()
    try {
      // batch 1: users 1..10 — below k, estimate must be EXACT
      ms.addData((1 to 10).map(i => Event(i.toLong, ts(i), i.toLong, "click", 0.0)): _*)
      q.processAllAvailable()
      val first = spark.table("kmv_stream").collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(first("click") == 10L)

      // batch 2: users 6..30 overlap + growth — state crossed k; the
      // running sketch must equal the ONE-SHOT batch fold over all
      // users seen (order/batching independence = restart consistency)
      ms.addData((6 to 30).map(i => Event(100L + i, ts(30 + i), i.toLong, "click", 0.0)): _*)
      q.processAllAvailable()
      val est = spark.table("kmv_stream").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
        .filter(_._1 == "click").last
      val sketch = new graft.operators.Aggregators.Kmv(16)
      val expected = (1 to 30).map(i =>
        graft.functions.TextFunctions.portableHashJvm(i.toString, 71))
        .foldLeft(sketch.zero)(sketch.reduce)
      val expectedEst =
        math.floor(15.0 * 1152921504606846976.0 / expected(15).toDouble + 0.5).toLong
      assert(est._3 == 16)
      assert(est._2 == expectedEst, s"stream est ${est._2} != batch fold $expectedEst")
    } finally q.stop()
  }

  test("streaming quantile sketch: running p50/p95 equals the one-shot batch fold") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    val q = EventStreams.quantileSketchStream(ms.toDF().as[Event], k = 8)
      .writeStream.format("memory").queryName("qsk_stream").outputMode("update").start()
    try {
      // batch 1: 6 values < k — the sample IS the data, quantiles exact:
      // cents [100..600], p50 at ceil-pos 3 → 300, p95 at pos 6 → 600
      ms.addData((1 to 6).map(i => Event(i.toLong, ts(i), 1L, "click", i * 1.0)): _*)
      q.processAllAvailable()
      val first = spark.table("qsk_stream").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4))).last
      assert(first == (("click", 6L, 300L, 600L, 6)))
      // batch 2: growth past k — the running sample must equal the
      // ONE-SHOT fold over all 30 events (order/batching independence
      // = checkpoint-restart consistency), and the emitted quantiles
      // must read from it at the shared exact-integer positions
      ms.addData((7 to 30).map(i => Event(i.toLong, ts(30 + i), 1L, "click", i * 1.0)): _*)
      q.processAllAvailable()
      val sampler = new graft.operators.Aggregators.StableSample(8)
      val folded = (1 to 30).foldLeft(sampler.zero) { (b, i) =>
        sampler.reduce(b,
          (graft.functions.TextFunctions.portableHashJvm(i.toString, 71), i * 100L))
      }
      val sv = folded.map(_._2).sorted.toIndexedSeq
      def pos(p: Int): Long = sv(((sv.size * p + 99) / 100 - 1).max(0))
      val last = spark.table("qsk_stream").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
        .filter(_._1 == "click").last
      assert(last == (("click", 30L, pos(50), pos(95), sv.size)), last)
    } finally q.stop()
  }

  test("quantile sketch restart from checkpoint: state-carried sample equals the fold") {
    import spark.implicits._
    val dir = tmpDir("qsk_restart")
    val (src, out, chk) = (s"$dir/src", s"$dir/out", s"$dir/chk")
    def writeFile(events: Event*): Unit =
      events.toDF().withColumn("props", lit("{}"))
        .repartition(1).write.mode("append").parquet(src)
    def run(): Unit = {
      val ds = EventStreams.readEventStream(spark, src, nanosTs = Some(false))
        .select("event_id", "ts", "user_id", "event_type", "value").as[Event]
      val q = EventStreams.quantileSketchStream(ds, k = 8)
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[EventStreams.QuantileEst], _: Long) =>
          b.write.mode("append").parquet(out); ()
        }
        .option("checkpointLocation", chk)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    writeFile((1 to 6).map(i => Event(i.toLong, ts(i), 1L, "click", i * 1.0)): _*)
    run() // incarnation 1: below k — exact quantiles
    // incarnation 2 resumes from the checkpoint with the sample+count
    // state intact; its emission must equal the ONE-SHOT fold over all
    // 30 events — the restart-consistency contract of a deterministic
    // bottom-k sample
    writeFile((7 to 30).map(i => Event(i.toLong, ts(30 + i), 1L, "click", i * 1.0)): _*)
    run()
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getAs[Long]("n"), r.getAs[Long]("p50_cents"), r.getAs[Long]("p95_cents")))
      .toSet
    assert(rows.contains((6L, 300L, 600L)), s"first incarnation emission missing: $rows")
    val sampler = new graft.operators.Aggregators.StableSample(8)
    val folded = (1 to 30).foldLeft(sampler.zero) { (b, i) =>
      sampler.reduce(b,
        (graft.functions.TextFunctions.portableHashJvm(i.toString, 71), i * 100L))
    }
    val sv = folded.map(_._2).sorted.toIndexedSeq
    def pos(p: Int): Long = sv(((sv.size * p + 99) / 100 - 1).max(0))
    assert(rows.contains((30L, pos(50), pos(95))),
      s"restart emission must equal the one-shot fold: $rows vs n=30 p50=${pos(50)} p95=${pos(95)}")
  }

  test("streaming heavy hitters: true heavy present across batches, light user absent") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    // capacity 4, threshold 30%: user 1 holds ~50% share (must always
    // surface: share > 1/4 pigeonhole), user 9 ~2% (must never: even
    // with the maximal overcount n/4 its estimate stays under 30%)
    val q = EventStreams.heavyHittersStream(ms.toDF().as[Event],
        capacity = 4, perMille = 300)
      .writeStream.format("memory").queryName("hh_stream").outputMode("update").start()
    try {
      def mkBatch(idBase: Long, minuteBase: Int): Seq[Event] =
        (0 until 25).map { i =>
          val user = if (i < 13) 1L else if (i < 24) (2L + i % 5) else 9L
          Event(idBase + i, ts(minuteBase + i / 10), user, "click", 0.0)
        }
      ms.addData(mkBatch(0L, 0): _*)
      q.processAllAvailable()
      val b1 = spark.table("hh_stream").collect()
        .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
      assert(b1.exists(_._1 == "1"), s"heavy user missing in batch 1: ${b1.toSeq}")

      ms.addData(mkBatch(100L, 30): _*)
      q.processAllAvailable()
      val b2 = spark.table("hh_stream").collect()
        .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
        .filter(_._3 == 50L) // rows from the second batch (n = 50)
      assert(b2.exists(_._1 == "1"), s"heavy user missing after restart-merge: ${b2.toSeq}")
      assert(!b2.exists(_._1 == "9"), s"light user surfaced: ${b2.toSeq}")
      // estimates only over-count: heavy user's estimate >= true 26
      assert(b2.find(_._1 == "1").get._2 >= 26L)
    } finally q.stop()
  }

  test("streaming heavy hitters restart from checkpoint: summary and count carried, no replay") {
    import spark.implicits._
    def mkBatch(idBase: Long, minuteBase: Int): Seq[Event] =
      (0 until 25).map { i =>
        val user = if (i < 13) 1L else if (i < 24) (2L + i % 5) else 9L
        Event(idBase + i, ts(minuteBase + i / 10), user, "click", 0.0)
      }
    val dir = tmpDir("hh_restart")
    val (src, out, chk) = (s"$dir/src", s"$dir/out", s"$dir/chk")
    def writeFile(events: Event*): Unit =
      events.toDF().withColumn("props", lit("{}"))
        .repartition(1).write.mode("append").parquet(src)
    def run(): Unit = {
      val ds = EventStreams.readEventStream(spark, src, nanosTs = Some(false))
        .select("event_id", "ts", "user_id", "event_type", "value").as[Event]
      val q = EventStreams.heavyHittersStream(ds, capacity = 4, perMille = 300)
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[EventStreams.HeavyUser], _: Long) =>
          b.write.mode("append").parquet(out); ()
        }
        .option("checkpointLocation", chk)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    writeFile(mkBatch(0L, 0): _*)
    run() // incarnation 1: n = 25
    writeFile(mkBatch(100L, 30): _*)
    run() // incarnation 2: summary and counter carried -> n = 50 rows
    val rows = spark.read.parquet(out).collect()
      .map(r => (r.getAs[String]("user_id"), r.getAs[Long]("est"), r.getAs[Long]("n")))
    // a lost counter would restart n at 25; lost entries would drop the
    // heavy user's estimate below its true 26
    assert(rows.exists(r => r._1 == "1" && r._3 == 50L && r._2 >= 26L),
      s"heavy user must survive the restart with the merged count: ${rows.toSeq}")
    assert(!rows.exists(r => r._1 == "9" && r._3 == 50L),
      s"light user surfaced after restart: ${rows.toSeq}")
    // incarnation 3: nothing new — a restart must not replay batches
    run()
    assert(spark.read.parquet(out).count() == rows.length)
  }

  test("readEventStream on an empty/missing dir: waits for files instead of throwing") {
    import spark.implicits._
    // consumer-before-producer deployment order: the schema probe must
    // fall back to the standard timestamp schema, not fail. (The
    // directory itself must exist — Spark's file stream source checks
    // the path at construction; what must NOT be required is a parquet
    // footer inside it.)
    val dir = tmpDir("stream_empty")
    val q = EventStreams.hourlyCounts(EventStreams.readEventStream(spark, dir))
      .writeStream.format("memory").queryName("empty_start").outputMode("update").start()
    try {
      q.processAllAvailable() // no files: no batches, no failure
      assert(spark.table("empty_start").isEmpty)
      // the producer arrives late; the stream picks its file up
      Seq((1L, ts(5), 1L, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(dir)
      q.processAllAvailable()
      assert(spark.table("empty_start").count() == 1)
    } finally q.stop()
  }

  test("readEventStream(Some(false)) does not flip the session-wide nanos conf") {
    val saved = spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    try {
      val dir = tmpDir("stream_conf")
      spark.range(1).selectExpr("id AS event_id", "current_timestamp() AS ts",
          "id AS user_id", "'click' AS event_type", "0.0 AS value", "'{}' AS props")
        .write.mode("overwrite").parquet(dir)
      EventStreams.readEventStream(spark, dir, nanosTs = Some(false))
      // unset → the registered default "false"; the construction must
      // not have flipped it to "true" session-wide
      assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false",
        "ordinary-timestamp stream construction must not set the legacy conf")
    } finally saved.foreach(spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", _))
  }

  test("the DEFAULT probe restores the nanos conf unless the footer is INT64 nanos") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(key)
    spark.conf.unset(key)
    try {
      // ordinary TIMESTAMP footer: the probe decodes nanos with its own
      // footer converter and must leave the conf as it found it
      val dir = tmpDir("stream_conf_probe")
      spark.range(1).selectExpr("id AS event_id", "current_timestamp() AS ts",
          "id AS user_id", "'click' AS event_type", "0.0 AS value", "'{}' AS props")
        .write.mode("overwrite").parquet(dir)
      EventStreams.readEventStream(spark, dir) // nanosTs = None → probe
      assert(spark.conf.get(key) == "false",
        "probe of an ordinary-timestamp footer leaked nanosAsLong=true")
      // empty directory (consumer-before-producer): same restore contract
      val empty = tmpDir("stream_conf_probe_empty")
      EventStreams.readEventStream(spark, empty)
      assert(spark.conf.get(key) == "false",
        "probe of a footerless directory leaked nanosAsLong=true")
    } finally {
      saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("portableHashJvm matches the column expression") {
    import spark.implicits._
    val vals = Seq("42", "user7", "the fast key")
    val fromCol = vals.toDF("v")
      .select(graft.functions.TextFunctions.portableHash(col("v"), 71))
      .collect().map(_.getLong(0)).toSeq
    val fromJvm = vals.map(graft.functions.TextFunctions.portableHashJvm(_, 71))
    assert(fromCol == fromJvm)
  }

  test("streaming PSI equals the batch drift_psi over the same events") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    def t(day: Int, hour: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:00:00")
    var id = 0L
    def ev(day: Int, hour: Int, tpe: String): Event = {
      id += 1; Event(id, t(day, hour), 1L, tpe, 0.0)
    }
    // click keeps its hour mix across halves (stable); view's hours
    // shift 1-2 → 22-23 between halves (hard drift)
    val base = (1 to 5).flatMap(d => Seq(
      ev(d, 1, "click"), ev(d, 2, "click"), ev(d, 3, "click"),
      ev(d, 1, "view"), ev(d, 2, "view")))
    val cur = (20 to 24).flatMap(d => Seq(
      ev(d, 1, "click"), ev(d, 2, "click"), ev(d, 3, "click"),
      ev(d, 22, "view"), ev(d, 23, "view")))
    val all = base ++ cur
    val d0 = Math.floorDiv(t(1, 0).getTime, 86400000L)

    // the BATCH drift_psi — the full Catalyst plan, run over the same
    // rows via a temp parquet table dir (a genuine cross-check of the
    // stream fold, not an arithmetic echo)
    val dir = tmpDir("psi_batch")
    all.toDF().withColumn("props", lit(null).cast("string"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val expected = graft.SparkEntry.queries("drift_psi")(spark, dir)
      .select(col("event_type"), col("n_base"), col("n_cur"),
        col("psi_micro"), col("drifted"))
      .as[(String, Long, Long, Long, Long)].collect().toSet

    val ms = MemoryStream[Event]
    val q = EventStreams.psiDriftStream(ms.toDS(), d0)
      .writeStream.format("memory").queryName("psi_stream")
      .outputMode("update").start()
    try {
      // an arbitrary 17/rest split — the state is a pure fold, so the
      // final emission must not depend on the batching
      ms.addData(all.take(17): _*)
      q.processAllAvailable()
      ms.addData(all.drop(17): _*)
      q.processAllAvailable()
      val rows = spark.table("psi_stream").as[EventStreams.PsiEst].collect()
      val fin = rows.groupBy(_.event_type).values
        .map(_.maxBy(r => r.n_base + r.n_cur))
        .map(r => (r.event_type, r.n_base, r.n_cur, r.psi_micro, r.drifted))
        .toSet
      assert(fin == expected,
        s"stream PSI $fin diverged from batch drift_psi $expected")
      // and the scenario does what it claims: view drifted, click calm
      assert(fin.exists(r => r._1 == "view" && r._5 == 1L))
      assert(fin.exists(r => r._1 == "click" && r._5 == 0L))
    } finally q.stop()
  }

  test("streaming PSI restart from checkpoint resumes the fold exactly") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    def t(day: Int, hour: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $hour%02d:00:00")
    val d0 = Math.floorDiv(t(1, 0).getTime, 86400000L)
    val dir = tmpDir("psi_restart")
    val (src, out, chk) = (s"$dir/src", s"$dir/out", s"$dir/chk")
    def writeFile(events: Event*): Unit =
      events.toDF().withColumn("props", lit("{}"))
        .repartition(1).write.mode("append").parquet(src)
    def run(): Unit = {
      val ds = EventStreams.readEventStream(spark, src, nanosTs = Some(false))
        .select("event_id", "ts", "user_id", "event_type", "value").as[Event]
      val q = EventStreams.psiDriftStream(ds, d0)
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[EventStreams.PsiEst], _: Long) =>
          b.write.mode("append").parquet(out); ()
        }
        .option("checkpointLocation", chk)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    writeFile(Event(1, t(1, 1), 1, "view", 0.0), Event(2, t(2, 2), 1, "view", 0.0))
    run() // incarnation 1: baseline-only grid
    // incarnation 2 resumes with the 2×24 grid intact; its emission
    // must equal the one-shot fold over all four events
    writeFile(Event(3, t(20, 22), 1, "view", 0.0), Event(4, t(21, 23), 1, "view", 0.0))
    run()
    val rows = spark.read.parquet(out)
      .as[EventStreams.PsiEst].collect()
    val last = rows.filter(_.event_type == "view").maxBy(r => r.n_base + r.n_cur)
    assert(last.n_base == 2L && last.n_cur == 2L, s"restarted grid lost rows: $last")
    // one-shot reference over all four events through the same fold
    val ms = MemoryStream[Event]
    val qr = EventStreams.psiDriftStream(ms.toDS(), d0)
      .writeStream.format("memory").queryName("psi_ref")
      .outputMode("update").start()
    try {
      ms.addData(Event(1, t(1, 1), 1, "view", 0.0), Event(2, t(2, 2), 1, "view", 0.0),
        Event(3, t(20, 22), 1, "view", 0.0), Event(4, t(21, 23), 1, "view", 0.0))
      qr.processAllAvailable()
      val ref = spark.table("psi_ref").as[EventStreams.PsiEst].collect()
        .maxBy(r => r.n_base + r.n_cur)
      assert(last == ref, s"restart emission $last != one-shot fold $ref")
    } finally qr.stop()
  }

  test("streaming HLL equals the batch distinct_hll over the same events") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val base = 1723600000000000L
    // two types, hundreds of distinct users → the raw harmonic branch;
    // arbitrary duplicates → register MAX must absorb them
    val all = (1 to 900).map { i =>
      val tpe = if (i % 3 == 0) "view" else "click"
      Event(i.toLong, new java.sql.Timestamp((base + i * 1000000L) / 1000L),
        (i % 317).toLong, tpe, 0.0)
    }
    val dir = tmpDir("hll_batch")
    all.toDF().withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val expected = graft.SparkEntry.queries("distinct_hll")(spark, dir)
      .select(col("event_type"), col("n_est"))
      .as[(String, Long)].collect().toMap

    val ms = MemoryStream[Event]
    val q = EventStreams.hllDistinctStream(ms.toDS())
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode("update").start()
    try {
      // arbitrary split: registers merge by max, so batching is moot
      ms.addData(all.take(401): _*)
      q.processAllAvailable()
      ms.addData(all.drop(401): _*)
      q.processAllAvailable()
      val fin = spark.table("hll_stream").as[EventStreams.HllEst].collect()
        .groupBy(_.event_type).values.map(_.maxBy(_.n_seen))
        .map(r => r.event_type -> r.n_est).toMap
      assert(fin == expected, s"stream HLL $fin diverged from batch $expected")
    } finally q.stop()
  }

  test("streaming weighted sample equals the batch weighted_sample bit for bit") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val expected = graft.SparkEntry.queries("weighted_sample")(spark, dir)
      .select(col("lang"), col("doc_id"), col("w"), col("pr_micro"), col("rk"))
      .as[(String, Long, Long, Long, Long)].collect().toSet
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .as[EventStreams.DocMeta].collect()

    val ms = MemoryStream[EventStreams.DocMeta]
    val q = EventStreams.weightedSampleStream(ms.toDS())
      .writeStream.format("memory").queryName("wsample_stream")
      .outputMode("update").start()
    try {
      // arbitrary split (and one doc redelivered): the top-k merge is
      // order-insensitive and idempotent per doc_id, so neither moves
      // the final emission
      ms.addData(docs.take(137): _*)
      q.processAllAvailable()
      ms.addData(docs(0))
      q.processAllAvailable()
      ms.addData(docs.drop(137): _*)
      q.processAllAvailable()
      val all = spark.table("wsample_stream")
        .as[EventStreams.WeightedSampleOut].collect()
      val lastSeen = all.groupBy(_.lang).map { case (l, rs) =>
        l -> rs.map(_.n_seen).max }
      val fin = all
        .filter(r => r.n_seen == lastSeen(r.lang))
        .map(r => (r.lang, r.doc_id, r.w, r.pr_micro, r.rk)).toSet
      assert(fin == expected,
        s"diff=${fin.diff(expected).take(3)} / ${expected.diff(fin).take(3)}")
    } finally q.stop()
  }
}
