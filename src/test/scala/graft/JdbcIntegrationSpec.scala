package graft

import graft.sinks.JdbcUpsertSink
import graft.sources.JdbcSource
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Live-database integration for JdbcSource / JdbcUpsertSink against
  * embedded Derby (in /opt/spark/jars — the one JDBC engine available
  * in this sandbox). Closes the round-1 verdict's "untested: no DB in
  * env" rows: the executor-side JDBC paths (partitioned scan, fetch
  * size, update-then-insert upsert, task-retry idempotency) run for
  * real here, not just their SQL/option builders.
  *
  * Reference behaviors exercised: PdoExtractor paginated scan
  * (`src/Extractors/PdoExtractor.php:18-89`), DbLoader update-or-insert
  * (`src/Laravel/Loaders/DbLoader.php:91-109`).
  */
class JdbcIntegrationSpec extends SparkSuite {

  private val dbDir = tmpDir("graft-derby") + "/db"
  private val url = s"jdbc:derby:$dbDir;create=true"
  private val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")

  private def withConn[A](f: java.sql.Connection => A): A = {
    val c = java.sql.DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def seedSource(): Unit = withConn { c =>
    val st = c.createStatement()
    st.execute(
      "CREATE TABLE src (id BIGINT PRIMARY KEY, name VARCHAR(64), val DOUBLE)")
    val ins = c.prepareStatement("INSERT INTO src VALUES (?, ?, ?)")
    (0L until 100L).foreach { i =>
      ins.setLong(1, i); ins.setString(2, s"row_$i"); ins.setDouble(3, i * 1.5)
      ins.addBatch()
    }
    ins.executeBatch()
  }

  test("JdbcSource reads a live table, with partitioned scan and limit") {
    seedSource()
    val plain = JdbcSource(url, "src", properties = props).load(spark)
    assert(plain.count() === 100)
    assert(plain.filter(col("id") === 42).select("name").head.getString(0) === "row_42")

    // partitioned read: 4 executor-side range scans over the id column
    val parted = JdbcSource(url, "src", properties = props,
      partitionColumn = Some("id"), lowerBound = Some(0L),
      upperBound = Some(100L), numPartitions = Some(4))
    val df = parted.load(spark)
    assert(df.rdd.getNumPartitions === 4)
    assert(df.count() === 100)
    assert(df.agg(sum("id")).head.getLong(0) === (0L until 100L).sum)

    // source-level limit + ordered offset (reference setLimit/setOffset)
    val page = JdbcSource(url, "src", properties = props, fetchSize = 7,
      limit = Some(10), offset = 20L, orderedBy = Seq("id")).load(spark)
    assert(page.select("id").collect().map(_.getLong(0)).toSeq === (20L until 30L))
  }

  test("JdbcSource pushes filters into the database scan (not Spark-side post-filter)") {
    // the plan-shape claim behind COVERAGE §2.1.2: a predicate on a
    // JdbcSource frame must reach the JDBC relation as a pushed filter
    // — i.e. travel to the database in the generated WHERE clause — so
    // at scale the DB ships matching rows only, instead of Spark
    // draining the whole table to filter it
    val df = JdbcSource(url, "src", properties = props).load(spark)
      .filter(col("id") > 90 && col("name") =!= "row_95")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan)
    assert("GreaterThan\\(\"?ID\"?,90\\)".r.findFirstIn(plan).isDefined, plan)
    assert("Not\\(EqualTo\\(\"?NAME\"?,row_95\\)\\)".r.findFirstIn(plan).isDefined, plan)
    // and the pushed scan returns the right rows (ids 91..99 minus 95)
    assert(df.select("id").collect().map(_.getLong(0)).sorted.toSeq ===
      (91L until 100L).filterNot(_ == 95L))
  }

  test("JdbcUpsertSink ansi dialect: update-then-insert against Derby, idempotent") {
    withConn { c =>
      val st = c.createStatement()
      st.execute(
        "CREATE TABLE dst (id BIGINT PRIMARY KEY, name VARCHAR(64), val DOUBLE)")
      st.execute("INSERT INTO dst VALUES (1, 'old_1', 0.0)")
      st.execute("INSERT INTO dst VALUES (2, 'old_2', 0.0)")
      st.execute("INSERT INTO dst VALUES (3, 'keep_3', 3.0)")
    }
    // rows 1,2 collide (update path), rows 10..14 are new (insert path);
    // row 3 is untouched. 3 partitions → concurrent embedded connections.
    val incoming = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(1L, "new_1", 1.0), Row(2L, "new_2", 2.0)) ++
          (10L until 15L).map(i => Row(i, s"new_$i", i * 1.0)), 3),
      new org.apache.spark.sql.types.StructType()
        .add("id", "long").add("name", "string").add("val", "double"))

    val sink = JdbcUpsertSink(url, "dst", keyCols = Seq("id"),
      properties = props, batchSize = 2, dialect = "ansi")
    sink.write(incoming)
    // idempotency: a task retry replays rows — same end state
    sink.write(incoming)

    val got = withConn { c =>
      val rs = c.createStatement().executeQuery("SELECT id, name, val FROM dst ORDER BY id")
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getLong(1), r.getString(2), r.getDouble(3))).toList
    }
    assert(got === List(
      (1L, "new_1", 1.0), (2L, "new_2", 2.0), (3L, "keep_3", 3.0),
      (10L, "new_10", 10.0), (11L, "new_11", 11.0), (12L, "new_12", 12.0),
      (13L, "new_13", 13.0), (14L, "new_14", 14.0)))
  }

  test("JdbcUpsertSink postgresql dialect: live ON CONFLICT upsert (DuckDB engine), idempotent") {
    // DuckDB executes the PostgreSQL ON CONFLICT (...) DO UPDATE SET
    // ... = excluded.... dialect, and its JDBC driver sits in the local
    // coursier cache (wired as a test-only unmanaged jar) — so the
    // single-statement dialect path runs against a REAL database here,
    // not just its SQL builder. Canceled (not failed) when the jar is
    // absent. Composite key exercises multi-column conflict targets.
    assume(
      try { Class.forName("org.duckdb.DuckDBDriver"); true }
      catch { case _: ClassNotFoundException => false },
      "duckdb_jdbc not on the test classpath")
    val duckUrl = s"jdbc:duckdb:${tmpDir("graft-duck")}/up.db"
    def withDuck[A](f: java.sql.Connection => A): A = {
      val c = java.sql.DriverManager.getConnection(duckUrl)
      try f(c) finally c.close()
    }
    // One keeper connection holds the database instance open from setup
    // to read-back. Every connection to a file shares one DuckDB
    // instance, which closes (checkpointing the file) with its last
    // connection; without the keeper each task's connection can reopen
    // the file while another closes it, and duckdb_jdbc 1.0.0 then
    // intermittently fails the read-back (a WAL replay error, "Invalid
    // bitpacking mode", or rows lost). The two task connections stay
    // concurrent: the keeper only stops the instance from cycling.
    val keeper = java.sql.DriverManager.getConnection(duckUrl)
    try {
      withDuck { c =>
        val st = c.createStatement()
        st.execute("CREATE TABLE dst_pg (k BIGINT, grp VARCHAR, v DOUBLE, " +
          "PRIMARY KEY (k, grp))")
        st.execute("INSERT INTO dst_pg VALUES (1, 'a', 0.0)")
        st.execute("INSERT INTO dst_pg VALUES (1, 'b', 0.0)")
        st.execute("INSERT INTO dst_pg VALUES (3, 'a', 3.0)")
      }
      // (1,a) and (1,b) collide → DO UPDATE; (10..12,a) are new → insert;
      // (3,a) untouched. 2 partitions → two concurrent connections to the
      // same database file (distinct rows, so optimistic MVCC never
      // conflicts — the same property a sharded upsert relies on).
      val incoming = spark.createDataFrame(
        spark.sparkContext.parallelize(
          Seq(Row(1L, "a", 1.0), Row(1L, "b", 2.0)) ++
            (10L until 13L).map(i => Row(i, "a", i * 1.0)), 2),
        new org.apache.spark.sql.types.StructType()
          .add("k", "long").add("grp", "string").add("v", "double"))
      val sink = JdbcUpsertSink(duckUrl, "dst_pg", keyCols = Seq("k", "grp"),
        batchSize = 2, dialect = "postgresql")
      sink.write(incoming)
      // idempotency: a task retry replays its rows — same end state
      sink.write(incoming)
      val got = withDuck { c =>
        val rs = c.createStatement()
          .executeQuery("SELECT k, grp, v FROM dst_pg ORDER BY k, grp")
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => (r.getLong(1), r.getString(2), r.getDouble(3))).toList
      }
      assert(got === List(
        (1L, "a", 1.0), (1L, "b", 2.0), (3L, "a", 3.0),
        (10L, "a", 10.0), (11L, "a", 11.0), (12L, "a", 12.0)))
    } finally keeper.close()
  }

  test("streaming upsert: foreachBatch drives JdbcUpsertSink(ansi) into Derby") {
    // the batch-only upsert sink becomes a streaming sink through
    // foreachBatch (update-mode agg emits changed keys per micro-batch;
    // keyed upsert makes replays idempotent) — the standard pattern for
    // streaming into a MERGE-less JDBC store
    import graft.streaming.EventStreams.Event
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    import spark.implicits._
    withConn { c =>
      c.createStatement().execute(
        "CREATE TABLE stream_agg (user_id BIGINT PRIMARY KEY, n_events BIGINT, total_val DOUBLE)")
    }
    val sink = JdbcUpsertSink(url, "stream_agg", keyCols = Seq("user_id"),
      properties = props, dialect = "ansi")
    def ts(minute: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")
    val ms = MemoryStream[Event]
    val agg = ms.toDF().groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_val"))
    val q = agg.writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        sink.write(batch)
      }.start()
    def table(): Map[Long, (Long, Double)] = withConn { c =>
      val rs = c.createStatement().executeQuery("SELECT user_id, n_events, total_val FROM stream_agg")
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => r.getLong(1) -> (r.getLong(2), r.getDouble(3))).toMap
    }
    try {
      ms.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(1), 1, "view", 2.0),
        Event(3, ts(2), 2, "click", 5.0))
      q.processAllAvailable()
      assert(table() === Map(1L -> (2L, 3.0), 2L -> (1L, 5.0)))
      // second micro-batch UPDATES user 1's row and INSERTS user 3's
      ms.addData(Event(4, ts(3), 1, "click", 4.0), Event(5, ts(4), 3, "view", 7.0))
      q.processAllAvailable()
      assert(table() === Map(1L -> (3L, 7.0), 2L -> (1L, 5.0), 3L -> (1L, 7.0)))
    } finally q.stop()
  }

  test("ansi upsert with composite key listed in NON-column order binds WHERE params correctly") {
    // the WHERE placeholders follow keyCols order; the regression this
    // pins bound them in DataFrame-column order, so a composite key
    // whose keyCols order differs from the column order matched nothing
    // (or the wrong row) and duplicated instead of updating
    withConn { c =>
      val st = c.createStatement()
      st.execute("CREATE TABLE dst_ck (id BIGINT, region VARCHAR(8), total DOUBLE, " +
        "PRIMARY KEY (region, id))")
      st.execute("INSERT INTO dst_ck VALUES (1, 'eu', 0.0)")
      st.execute("INSERT INTO dst_ck VALUES (1, 'us', 0.0)")
    }
    // columns (id, region, total); keyCols deliberately (region, id)
    val incoming = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "eu", 10.0), Row(1L, "us", 20.0), Row(2L, "eu", 30.0)), 1),
      new org.apache.spark.sql.types.StructType()
        .add("id", "long").add("region", "string").add("total", "double"))
    JdbcUpsertSink(url, "dst_ck", keyCols = Seq("region", "id"),
      properties = props, dialect = "ansi").write(incoming)
    val got = withConn { c =>
      val rs = c.createStatement()
        .executeQuery("SELECT id, region, total FROM dst_ck ORDER BY region, id")
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => (r.getLong(1), r.getString(2), r.getDouble(3))).toList
    }
    // both eu/us rows for id 1 UPDATED in place (no duplicates), id 2 inserted
    assert(got === List((1L, "eu", 10.0), (2L, "eu", 30.0), (1L, "us", 20.0)))
  }

  test("updateThenInsertSql builder shape") {
    val (upd, ins) = JdbcUpsertSink.updateThenInsertSql(
      "t", Seq("k1", "a", "k2", "b"), Seq("k1", "k2"))
    assert(upd === "UPDATE t SET a = ?, b = ? WHERE k1 = ? AND k2 = ?")
    assert(ins === "INSERT INTO t (k1, a, k2, b) VALUES (?, ?, ?, ?)")
    assertThrows[IllegalArgumentException] {
      JdbcUpsertSink.updateThenInsertSql("t", Seq("k"), Seq("k"))
    }
  }
}
