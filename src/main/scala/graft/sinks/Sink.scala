package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.util.SerializableConfiguration

/** A record sink — the reference's `LoaderInterface`
  * (`src/Loaders/LoaderInterface.php:18-33`). The per-record `exec` +
  * end-of-flow `flush` contract (`docs/citizens.md:370-372`) maps to a
  * `df.write` job: Spark's commit protocol IS the flush (tasks write
  * attempts, job commit publishes — all-or-nothing per sink). */
trait Sink {
  def write(df: DataFrame): Unit
}

/** Swallow records — reference `src/Loaders/NoOpLoader.php:15-28`.
  * Uses the `noop` DSv2 format so the full plan still executes (useful
  * for benchmarks: unlike `count()`, projections are not pruned away). */
case object NoOpSink extends Sink {
  def write(df: DataFrame): Unit =
    df.write.format("noop").mode(SaveMode.Overwrite).save()
}

/** Shared writer configuration for the columnar sinks — ONE definition
  * of the knob chain so a new per-write option cannot be added to one
  * format and silently missed on the other. */
private[sinks] object ColumnarWriter {
  /** Builds the configured [[org.apache.spark.sql.DataFrameWriter]];
    * the sink applies its format call (`.parquet`/`.orc`) to the
    * result.
    *
    * dynamicPartitionOverwrite is the incremental-batch idiom:
    * Overwrite + dynamic mode replaces ONLY the partitions present in
    * this batch (per-write option, not the session conf — two sinks in
    * one flow can disagree). STATIC (the default) truncates the whole
    * table first — correct for full rebuilds, catastrophic for a daily
    * increment into years of partitions. */
  def configure(df: DataFrame, mode: SaveMode, partitionBy: Seq[String],
      maxRecordsPerFile: Option[Long], compression: Option[String],
      dynamicPartitionOverwrite: Boolean): org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] = {
    val base = df.write.mode(mode)
    val sized = maxRecordsPerFile.fold(base)(n => base.option("maxRecordsPerFile", n))
    val coded = compression.fold(sized)(c => sized.option("compression", c))
    val w = if (dynamicPartitionOverwrite)
      coded.option("partitionOverwriteMode", "dynamic") else coded
    if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w
  }
}

/** Parquet out. `maxRecordsPerFile` is the file-sizing knob a 100 TB
  * write needs: without it one task's partition becomes one
  * arbitrarily large file (slow to open, impossible to split for
  * downstream row-group skipping); with it the writer rolls files at
  * the record cap while keeping task parallelism unchanged.
  * `compression` picks the codec per sink (None = session default,
  * snappy out of the box): zstd trades ~2× better ratio for CPU —
  * at 100 TB the right answer differs between a write-once archive
  * tier (zstd) and a hot re-read tier (snappy/lz4), so it must be a
  * per-sink choice, not a cluster constant. */
final case class ParquetSink(path: String, mode: SaveMode = SaveMode.Overwrite,
    partitionBy: Seq[String] = Nil,
    maxRecordsPerFile: Option[Long] = None,
    compression: Option[String] = None,
    dynamicPartitionOverwrite: Boolean = false) extends Sink {
  def write(df: DataFrame): Unit =
    ColumnarWriter.configure(df, mode, partitionBy, maxRecordsPerFile,
      compression, dynamicPartitionOverwrite).parquet(path)
}

/** ORC out (engine extension — same knobs as [[ParquetSink]] via
  * [[ColumnarWriter]]; Hive-ecosystem interchange). */
final case class OrcSink(path: String, mode: SaveMode = SaveMode.Overwrite,
    partitionBy: Seq[String] = Nil,
    maxRecordsPerFile: Option[Long] = None,
    compression: Option[String] = None,
    dynamicPartitionOverwrite: Boolean = false) extends Sink {
  def write(df: DataFrame): Unit =
    ColumnarWriter.configure(df, mode, partitionBy, maxRecordsPerFile,
      compression, dynamicPartitionOverwrite).orc(path)
}

/** CSV out with the reference's first-line protocol
  * (`src/Loaders/File/CsvLoader.php:103-113`): optional BOM (matching
  * the target `encoding`, like the reference's
  * `Traits/FileHandlerTrait.php:76-87` prependBom), then optional
  * `sep=X` line, then optional header, then data.
  *
  * Spark's CSV writer encodes the data lines itself (`encoding`
  * option); BOM and `sep=` are a per-file prolog, so each part file
  * gets the prolog in the same encoding (a re-read through
  * [[graft.sources.CsvSource]] detects the BOM and drops the prologs).
  * With `singleFile=true` the parts are concatenated driver-side into
  * one file — only for results known to be small (golden-file tests,
  * exports). */
final case class CsvSink(
    path: String,
    header: Boolean = true,
    sep: String = ",",
    writeBom: Boolean = false,
    writeSepLine: Boolean = false,
    singleFile: Boolean = false,
    encoding: String = "UTF-8",
    compression: Option[String] = None) extends Sink {

  // the prolog/singleFile paths rewrite part files byte-wise; doing that
  // through a codec would mean decompress-reassemble-recompress — refuse
  // the combination rather than ship a slow surprise (compressed exports
  // don't carry Excel prologs anyway)
  require(compression.isEmpty || !(writeBom || writeSepLine || singleFile),
    "CsvSink: compression cannot combine with BOM/sep=/singleFile prologs")

  def write(df: DataFrame): Unit = {
    val spark = df.sparkSession
    val dataPath = if (writeBom || writeSepLine || singleFile) path + "__data" else path
    val w = df.write.mode(SaveMode.Overwrite)
      .option("header", header.toString).option("sep", sep)
      .option("encoding", encoding)
    compression.fold(w)(c => w.option("compression", c))
      .csv(dataPath)
    if (dataPath != path) {
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new HPath(path).getFileSystem(conf)
      val parts = fs.listStatus(new HPath(dataPath)).filter(_.getPath.getName.startsWith("part-"))
        .map(_.getPath).sortBy(_.getName)
      fs.delete(new HPath(path), true)
      val prolog = new StringBuilder
      if (writeSepLine) prolog.append(s"sep=$sep\n")
      val bomBytes =
        if (writeBom) graft.sources.Bom.bomFor(encoding) else Array.empty[Byte]
      if (singleFile) {
        val out = fs.create(new HPath(path), true)
        try {
          out.write(bomBytes)
          out.write(prolog.toString.getBytes(encoding))
          var first = true
          parts.foreach { p =>
            val in = fs.open(p)
            try {
              val it = scala.io.Source.fromInputStream(in, encoding).getLines()
              // header appears in every part; keep only the first one
              val lines = if (header && !first) it.drop(1) else it
              lines.foreach { l => out.write((l + "\n").getBytes(encoding)) }
            } finally in.close()
            first = false
          }
        } finally out.close()
      } else {
        // keep files distributed; prepend prolog to each part
        fs.mkdirs(new HPath(path))
        parts.foreach { p =>
          val out = fs.create(new HPath(path, p.getName), true)
          try {
            out.write(bomBytes)
            out.write(prolog.toString.getBytes(encoding))
            val in = fs.open(p)
            try {
              val buf = new Array[Byte](1 << 16)
              var n = in.read(buf)
              while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
            } finally in.close()
          } finally out.close()
        }
      }
      fs.delete(new HPath(dataPath), true)
    }
  }
}

/** JSON Lines out — one JSON object per line, the interchange format
  * of document/training-data pipelines (engine extension; the
  * reference's file loaders are CSV only, `src/Loaders/File/`). Spark's
  * `json` writer IS JSONL: each part file is a sequence of
  * newline-delimited objects, written distributed — no prolog
  * machinery needed (JSON has no BOM/sep protocol). */
final case class JsonlSink(path: String, mode: SaveMode = SaveMode.Overwrite)
    extends Sink {
  def write(df: DataFrame): Unit = df.write.mode(mode).json(path)
}

/** XML out (engine extension — Spark 4's native XML writer): each part
  * file is a `rootTag` document of `rowTag` elements, entity-escaped by
  * the writer, so free text (quotes, `<`, `&`) survives the trip. The
  * interchange format for feeds/catalogs that still speak XML. */
final case class XmlSink(path: String, mode: SaveMode = SaveMode.Overwrite,
    rootTag: String = "rows", rowTag: String = "row") extends Sink {
  def write(df: DataFrame): Unit =
    df.write.mode(mode).option("rootTag", rootTag).option("rowTag", rowTag)
      .xml(path)
}

/** Avro container-file out — the write side of
  * [[graft.sources.AvroSource]], through the public Hadoop output
  * format (`AvroKeyOutputFormat`; no DataSource connector on this
  * classpath). One container file per task, splittable on sync markers
  * for whoever reads it next; the record schema derives from the
  * DataFrame's StructType ([[graft.sources.AvroConv]] — flat primitives,
  * nullable as `[null, T]`). Schema objects are not serializable, so
  * tasks re-parse the JSON form once per partition. Overwrite
  * semantics match the other sinks (the Hadoop committer refuses an
  * existing directory, so the sink clears it first). */
final case class AvroSink(path: String, recordName: String = "graft_record")
    extends Sink {
  def write(df: DataFrame): Unit = {
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericRecord}
    import org.apache.avro.mapred.AvroKey
    import org.apache.avro.mapreduce.{AvroJob, AvroKeyOutputFormat}
    import org.apache.hadoop.io.NullWritable
    import org.apache.hadoop.mapreduce.Job

    val spark = df.sparkSession
    val schemaJson =
      graft.sources.AvroConv.toAvroSchema(df.schema, recordName).toString
    val nFields = df.schema.length
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    AvroJob.setOutputKeySchema(job, new Schema.Parser().parse(schemaJson))
    val fs = new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new HPath(path), true)
    // the job runs as one SQL execution of the frame's OWN plan: `df.rdd`
    // would run a second plan outside any execution, and the flow's
    // observations on this frame would complete with zero rows
    val st = df.schema
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("AvroSink")) {
      qe.toRdd.mapPartitions { rows =>
        val schema = new Schema.Parser().parse(schemaJson)
        val toRow = CatalystTypeConverters.createToScalaConverter(st)
        rows.map { ir =>
          val r = toRow(ir).asInstanceOf[Row]
          val rec = new GenericData.Record(schema)
          var i = 0
          while (i < nFields) {
            rec.put(i, graft.sources.AvroConv.toAvro(r.get(i)))
            i += 1
          }
          (new AvroKey[GenericRecord](rec), NullWritable.get())
        }
      }.saveAsNewAPIHadoopFile(path,
        classOf[AvroKey[GenericRecord]], classOf[NullWritable],
        classOf[AvroKeyOutputFormat[GenericRecord]], job.getConfiguration)
    }
  }
}

/** Arrow IPC file out — the write side of [[graft.sources.ArrowSource]]
  * ("Feather V2"): one .arrow file per non-empty partition, written in
  * record batches of `batchRows` through the Hadoop FS channel, so the
  * artifact lands wherever the cluster's storage is. Schema derives
  * from the StructType ([[graft.sources.ArrowConv]] — flat primitives,
  * nullable); allocator lifecycle is strictly per-partition
  * (create → write → close in finally, so an executor can't leak
  * direct memory across tasks). Overwrite semantics match the other
  * sinks. Task RETRIES are safe (each attempt re-creates its own
  * part file, overwrite=true — idempotent), but unlike the
  * committer-backed sinks there is no attempt-staging: disable
  * speculative execution for this sink at cluster scale, or two live
  * attempts of one partition could interleave writes to the same
  * file. */
final case class ArrowSink(path: String, batchRows: Int = 4096) extends Sink {
  require(batchRows > 0, s"batchRows must be positive: $batchRows")

  def write(df: DataFrame): Unit = {
    val spark = df.sparkSession
    val st = df.schema
    // Configuration is not serializable — broadcast Spark's serializable
    // wrapper, so DFS credentials/settings reach the tasks
    val confSer = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    val out = path
    val nBatch = batchRows
    val fs0 = new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs0.delete(new HPath(path), true)
    fs0.mkdirs(new HPath(path))
    // a Dataset action, so the flow's observations on `df` count its rows
    df.foreachPartition { rows: Iterator[Row] =>
      if (rows.hasNext) {
        val conf = confSer.value.value
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val file = new HPath(out, f"part-$pid%05d.arrow")
        val fs = file.getFileSystem(conf)
        val alloc = new org.apache.arrow.memory.RootAllocator()
        val root = org.apache.arrow.vector.VectorSchemaRoot.create(
          graft.sources.ArrowConv.toArrowSchema(st), alloc)
        val os = fs.create(file, true)
        val writer = new org.apache.arrow.vector.ipc.ArrowFileWriter(
          root, null, java.nio.channels.Channels.newChannel(os))
        try {
          writer.start()
          val vecs = (0 until st.length).map(root.getVector)
          var i = 0
          rows.foreach { r =>
            var c = 0
            while (c < st.length) {
              graft.sources.ArrowConv.set(vecs(c), i, r.get(c)); c += 1
            }
            i += 1
            if (i == nBatch) {
              root.setRowCount(i); writer.writeBatch()
              root.allocateNew(); i = 0
            }
          }
          if (i > 0) { root.setRowCount(i); writer.writeBatch() }
          writer.end()
        } finally {
          // Nested so a throw from an earlier close can't skip the
          // later ones — alloc.close() MUST run or the executor leaks
          // direct memory across tasks (the exact lifecycle this
          // per-partition allocator exists to prevent).
          try writer.close() finally {
            try os.close() finally {
              try root.close() finally alloc.close()
            }
          }
        }
      }
    }
  }
}

/** Fixed-width (columnar-text) out — the write side of
  * [[graft.sources.FixedWidthSource]]: every field space-padded to its
  * layout width, one record per line, written distributed through the
  * text writer (engine extension; the legacy-interchange counterpart of
  * [[CsvSink]]).
  *
  * The format is LOSSY at its edges, and this sink is loud about every
  * edge instead of silently corrupting records — the CsvSource
  * bad-input discipline applied to writes:
  *  - a value LONGER than its width would shift every later field →
  *    `raise_error` naming the field and value;
  *  - a value with a TRAILING SPACE or an embedded newline/CR is
  *    indistinguishable from padding / a record break after the trip →
  *    `raise_error`;
  *  - NULL has no representation distinct from the empty string (both
  *    read back as a blank field) → `raise_error`; encode nulls
  *    explicitly upstream if the layout has a convention for them.
  * Doubles survive exactly: the string cast emits the shortest
  * round-trip representation (same contract [[XmlSink]] relies on), and
  * the source's cast parses it back to the identical bits.
  * The guard chain is plain `when`/`rpad` column algebra — codegen'd,
  * narrow, zero extra passes. */
final case class FixedWidthSink(path: String, layout: Seq[(String, Int)])
    extends Sink {
  require(layout.nonEmpty && layout.forall(_._2 > 0),
    s"fixed-width layout needs positive widths: $layout")

  def write(df: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    val fields = layout.map { case (name, w) =>
      val c = col(name).cast("string")
      when(c.isNull, raise_error(lit(
          s"fixed-width: NULL in field $name has no distinct encoding " +
            "(blank = empty string); encode nulls upstream")))
        .when(length(c) > w, raise_error(concat(
          lit(s"fixed-width overflow: field $name exceeds width $w: "), c)))
        .when(c =!= rtrim(c) || contains(c, lit("\n")) || contains(c, lit("\r")),
          raise_error(concat(
            lit(s"fixed-width: field $name has trailing space or embedded " +
              "line break (not round-trippable): "), c)))
        .otherwise(rpad(c, w, " "))
    }
    df.select(concat(fields: _*).as("value"))
      .write.mode(SaveMode.Overwrite).text(path)
  }
}

/** Keyed upsert — the reference's `DbLoader`
  * (`src/Laravel/Loaders/DbLoader.php:91-109`: per record, check
  * `whereFields` match, update-or-insert). JDBC `df.write` has no MERGE;
  * the distributed form is `foreachPartition` + batched upsert statements
  * (idempotent, so task retries are safe — SURVEY §7.4.3).
  *
  * Dialects: `postgresql`/`sqlite` (ON CONFLICT) and `mysql`
  * (ON DUPLICATE KEY) upsert in one batched statement; `ansi` is the
  * portable two-statement form — UPDATE, and INSERT when no row matched
  * — which is verbatim the reference's per-record semantics and runs on
  * any JDBC database (integration-tested against embedded Derby in
  * JdbcIntegrationSpec). The ansi path trades statement batching for
  * portability: updates execute row-at-a-time (each result decides the
  * insert), with a commit every `batchSize` rows. All three paths are
  * idempotent, so Spark task retries are safe (SURVEY §7.4.3). */
final case class JdbcUpsertSink(
    url: String,
    table: String,
    keyCols: Seq[String],
    properties: Map[String, String] = Map.empty,
    batchSize: Int = 1000,
    dialect: String = "postgresql") extends Sink {

  def write(df: DataFrame): Unit =
    if (dialect == "ansi") writeUpdateThenInsert(df) else writeSingleStatement(df)

  /** Portable update-then-insert (`ansi` dialect) — the reference
    * DbLoader's exact control flow, one row at a time. */
  private def writeUpdateThenInsert(df: DataFrame): Unit = {
    val cols = df.columns.toSeq
    val (updSql, insSql) = JdbcUpsertSink.updateThenInsertSql(table, cols, keyCols)
    // UPDATE binds non-key columns first (SET, in column order — the
    // order updateThenInsertSql emits the SET list), then keys (WHERE,
    // in KEYCOLS order: the WHERE placeholders follow keyCols, so a
    // composite key listed in a different order than the DataFrame's
    // columns must bind by keyCols position, not column position)
    val updIdx = (cols.indices.filterNot(i => keyCols.contains(cols(i))) ++
      keyCols.map(k => cols.indexOf(k))).toArray
    writePartitions(df) { conn =>
      val upd = conn.prepareStatement(updSql)
      val ins = conn.prepareStatement(insSql)
      val put: Row => Unit = r => {
        updIdx.zipWithIndex.foreach { case (ri, pi) => upd.setObject(pi + 1, r.get(ri)) }
        if (upd.executeUpdate() == 0) {
          (0 until r.length).foreach(i => ins.setObject(i + 1, r.get(i)))
          ins.executeUpdate()
        }
      }
      (put, () => ())
    }
  }

  private def writeSingleStatement(df: DataFrame): Unit = {
    val sqlTemplate = JdbcUpsertSink.upsertSql(dialect, table, df.columns.toSeq, keyCols)
    writePartitions(df) { conn =>
      val st = conn.prepareStatement(sqlTemplate)
      val put: Row => Unit = r => {
        (0 until r.length).foreach(i => st.setObject(i + 1, r.get(i)))
        st.addBatch()
      }
      (put, () => { st.executeBatch(); () })
    }
  }

  /** Each partition on its own connection: auto-commit off, `open`'s
    * `put` per row, and its `flush` then a commit every `batchSize` rows
    * and at the end; the connection closes whatever happens. */
  private def writePartitions(df: DataFrame)(
      open: java.sql.Connection => (Row => Unit, () => Unit)): Unit = {
    val (u, props, bs) = (url, properties, batchSize)
    df.foreachPartition { rows: Iterator[Row] =>
      val p = new java.util.Properties()
      props.foreach { case (k, v) => p.setProperty(k, v) }
      val conn = java.sql.DriverManager.getConnection(u, p)
      try {
        conn.setAutoCommit(false)
        val (put, flush) = open(conn)
        var n = 0
        rows.foreach { r =>
          put(r); n += 1
          if (n % bs == 0) { flush(); conn.commit() }
        }
        flush(); conn.commit()
      } finally conn.close()
    }
  }
}

object JdbcUpsertSink {
  /** Dialect-specific single-statement upsert (pure, unit-tested). */
  def upsertSql(dialect: String, table: String, cols: Seq[String], keyCols: Seq[String]): String = {
    val colList = cols.mkString(", ")
    val params = cols.map(_ => "?").mkString(", ")
    dialect match {
      case "postgresql" | "sqlite" =>
        val sets = cols.filterNot(keyCols.contains).map(c => s"$c = excluded.$c").mkString(", ")
        s"INSERT INTO $table ($colList) VALUES ($params) " +
          s"ON CONFLICT (${keyCols.mkString(", ")}) DO UPDATE SET $sets"
      case "mysql" =>
        val sets = cols.filterNot(keyCols.contains).map(c => s"$c = VALUES($c)").mkString(", ")
        s"INSERT INTO $table ($colList) VALUES ($params) ON DUPLICATE KEY UPDATE $sets"
      case d => throw new IllegalArgumentException(s"unsupported upsert dialect: $d")
    }
  }

  /** Portable `ansi`-dialect pair: UPDATE (SET non-keys WHERE keys) and
    * the fallback INSERT. Pure — unit- and integration-tested. */
  def updateThenInsertSql(table: String, cols: Seq[String], keyCols: Seq[String]): (String, String) = {
    require(keyCols.nonEmpty && keyCols.forall(cols.contains), s"keyCols $keyCols must be ⊆ $cols")
    val nonKeys = cols.filterNot(keyCols.contains)
    require(nonKeys.nonEmpty, "ansi upsert needs at least one non-key column")
    val upd = s"UPDATE $table SET ${nonKeys.map(c => s"$c = ?").mkString(", ")} " +
      s"WHERE ${keyCols.map(c => s"$c = ?").mkString(" AND ")}"
    val ins = s"INSERT INTO $table (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    (upd, ins)
  }
}
