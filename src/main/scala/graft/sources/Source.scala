package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.FooterSchema
import org.apache.spark.sql.types.StructType

/** A source of records: the Spark-native analog of the reference's
  * `ExtractorInterface` (reference `src/Extractors/ExtractorInterface.php:17-35`).
  *
  * The reference's extract/getTraversable batch-pump contract collapses to
  * "produce a DataFrame": Spark's scan operators own batching, pagination
  * and pipelining (reference `src/Extractors/DbExtractorAbstract.php:93-135`
  * does by hand what whole-stage codegen does natively).
  *
  * `limit`/`offset` live on sources, exactly as in the reference
  * (`src/Extractors/ExtractorLimitAbstract.php:38-43`,
  * `src/Extractors/ExtractorBatchLimitAbstract.php:53-105`): [[Source.load]]
  * applies offset-then-limit on top of the raw scan. Offset requires a
  * deterministic order to mean anything (the reference docs require source
  * queries to be explicitly ordered for pagination, `docs/laravel.md:19-21`),
  * so offset > 0 demands an `orderedBy` column list.
  */
trait Source {
  def limit: Option[Long] = None
  def offset: Long = 0L
  def orderedBy: Seq[String] = Nil

  /** Raw scan, before limit/offset. */
  protected def scan(spark: SparkSession): DataFrame

  final def load(spark: SparkSession): DataFrame = {
    // Dataset.limit/offset take Int; a silent .toInt would wrap and
    // truncate billion-row cutoffs to garbage — refuse loudly instead
    limit.foreach(n => require(n <= Int.MaxValue && n >= 0,
      s"source limit $n out of Int range — use a filter/qualifier for larger cutoffs"))
    require(offset <= Int.MaxValue && offset >= 0,
      s"source offset $offset out of Int range")
    var df = scan(spark)
    if (offset > 0 || (limit.isDefined && orderedBy.nonEmpty)) {
      require(orderedBy.nonEmpty, "offset on a source requires orderedBy columns (unordered offset is nondeterministic)")
      df = df.orderBy(orderedBy.map(col): _*)
      if (offset > 0) df = df.offset(offset.toInt)
    }
    limit.fold(df)(n => df.limit(n.toInt))
  }
}

object Source {
  /** The first data file under `path` (a plain path, directory or
    * glob), by name — for the driver-side sniffs (CSV prolog, Avro
    * header, Arrow footer). Zero-length and marker files (_SUCCESS,
    * dotfiles) are skipped: they sort before part-* and a 0-byte
    * "first file" would silently defeat the sniff for the whole
    * directory. `None` when no such file exists. */
  private[sources] def firstDataFile(spark: SparkSession, path: String): Option[FileStatus] = {
    val p = new HPath(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // globStatus resolves plain paths, directories and glob patterns
    Option(fs.globStatus(p)).getOrElse(Array.empty).flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).filter(_.isFile) else Array(st)
    }.filter { st =>
      val name = st.getPath.getName
      st.getLen > 0 && !name.startsWith("_") && !name.startsWith(".")
    }.sortBy(_.getPath.getName).headOption
  }
}

/** Parquet scan (the workhorse; the reference's closest analog is the PDO
  * table scan, `src/Extractors/PdoExtractor.php:18-89`). Column pruning and
  * predicate pushdown are Catalyst's job — keep this a bare scan. */
final case class ParquetSource(
    path: String,
    override val limit: Option[Long] = None,
    override val offset: Long = 0L,
    override val orderedBy: Seq[String] = Nil) extends Source {
  protected def scan(spark: SparkSession): DataFrame = FooterSchema.read(spark, Seq(path))
}

/** ORC scan (engine extension — the other columnar format a Spark
  * warehouse interoperates with; Hive-ecosystem tables are commonly
  * ORC). Same bare-scan discipline as [[ParquetSource]]: predicate
  * pushdown, column pruning and stripe-level skipping are the
  * format's + Catalyst's job. */
final case class OrcSource(
    path: String,
    override val limit: Option[Long] = None,
    override val offset: Long = 0L,
    override val orderedBy: Seq[String] = Nil) extends Source {
  protected def scan(spark: SparkSession): DataFrame = spark.read.orc(path)
}

/** Unicode byte-order marks — the reference's `fab2s\OpinHelpers\Bom`
  * used by its file extractors/loaders (`src/Extractors/File/
  * FileExtractorAbstract.php:53-67` detection, `src/Traits/
  * FileHandlerTrait.php:76-87` prepend-on-write). */
object Bom {
  /** Longest-match order: UTF-32LE's BOM begins with UTF-16LE's. */
  val boms: Seq[(String, Array[Byte])] = Seq(
    "UTF-32BE" -> Array(0x00, 0x00, 0xFE, 0xFF).map(_.toByte),
    "UTF-32LE" -> Array(0xFF, 0xFE, 0x00, 0x00).map(_.toByte),
    "UTF-8"    -> Array(0xEF, 0xBB, 0xBF).map(_.toByte),
    "UTF-16BE" -> Array(0xFE, 0xFF).map(_.toByte),
    "UTF-16LE" -> Array(0xFF, 0xFE).map(_.toByte))

  /** Detect a leading BOM: (encoding, bom length in bytes). */
  def detect(buf: Array[Byte], n: Int): Option[(String, Int)] =
    boms.collectFirst {
      case (enc, b) if n >= b.length && b.indices.forall(i => buf(i) == b(i)) =>
        (enc, b.length)
    }

  /** The BOM bytes for an encoding (empty when the encoding has none). */
  def bomFor(encoding: String): Array[Byte] =
    boms.collectFirst {
      case (enc, b) if enc.equalsIgnoreCase(encoding) => b
    }.getOrElse(Array.empty)

  /** Endianness-agnostic charset name that CONSUMES a leading BOM while
    * decoding (Java's "UTF-16"/"UTF-32" strip it; the LE/BE-suffixed
    * names keep it as a character). */
  def bomConsumingCharset(encoding: String): String =
    encoding.toUpperCase match {
      case "UTF-16LE" | "UTF-16BE" => "UTF-16"
      case "UTF-32LE" | "UTF-32BE" => "UTF-32"
      case other                   => other
    }
}

/** CSV scan with the reference's file-quirk handling
  * (`src/Extractors/File/CsvExtractor.php:19-140`): UTF-8/16/32 BOM +
  * encoding detection (`File/FileExtractorAbstract.php:53-67`,
  * `Traits/FileHandlerTrait.php:26-87`), Excel `sep=X` first-line
  * auto-detection (`CsvExtractor.php:96-120`), optional header → field
  * names (`:78-91`), blank-line skipping (`:125-139`), embedded newlines.
  *
  * Spark's CSV reader covers header/quote/escape/multiLine natively; the
  * BOM + `sep=` prolog needs a tiny driver-side pre-scan of the first file
  * bytes (one small read, independent of file count/size — scale-safe).
  * When a `sep=` prolog exists OR the encoding is non-UTF-8, files are
  * decoded whole (binaryFile) and parsed via `csv(Dataset[String])` after
  * line-splitting. KNOWN LIMITATIONS of that line-Dataset route, by
  * construction:
  *  - embedded newlines inside quoted fields break into separate records
  *    — the `multiLine` flag CANNOT be honored there (a warning is
  *    logged when `multiLine = true` meets this path; pass
  *    `multiLine = false` to acknowledge);
  *  - per-file memory = decoded file size (binaryFile semantics) — the
  *    shape of legacy multi-encoding exports, not of big data, which
  *    arrives UTF-8/parquet on the distributed paths.
  * The prolog line is dropped only at LINE 0 of each file (whole-file
  * decode makes that order-safe), so a data line textually equal to
  * `sep=;` mid-file survives.
  */
final case class CsvSource(
    path: String,
    header: Boolean = true,
    sep: Option[String] = None,
    quote: String = "\"",
    escape: String = "\\",
    multiLine: Boolean = true,
    encoding: Option[String] = None,
    override val limit: Option[Long] = None,
    override val offset: Long = 0L,
    override val orderedBy: Seq[String] = Nil) extends Source {

  protected def scan(spark: SparkSession): DataFrame = {
    val pre = CsvSource.preScan(spark, path)
    val delim = sep.orElse(pre.sepFromProlog).getOrElse(",")
    val enc = encoding.orElse(pre.bomEncoding).getOrElse("UTF-8")
    val base = Map(
      "header" -> header.toString, "sep" -> delim, "quote" -> quote,
      "escape" -> escape, "mode" -> "PERMISSIVE",
      "ignoreEmptyLines" -> "true")
    val df =
      if (pre.sepFromProlog.isDefined || !enc.equalsIgnoreCase("UTF-8")) {
        // sep= prolog and/or non-UTF-8 encoding: decode per file (BOM
        // stripped by the endianness-agnostic charset when present),
        // drop prolog/empty lines by value, parse the line Dataset.
        // Parallelism is per-file — the shape of multi-encoding legacy
        // exports; big data arrives as UTF-8/parquet on the other paths.
        if (multiLine)
          org.apache.log4j.Logger.getLogger(getClass)
            .warn(s"CsvSource($path): non-UTF-8/sep-prolog route cannot honor " +
              "multiLine — quoted fields with embedded newlines will split; " +
              "pass multiLine = false to acknowledge")
        val prolog = pre.prologLine
        val lines = CsvSource.decodedLines(spark, path, pre, enc) { it =>
          // drop the prolog only as LINE 0 of this file — a data line
          // textually equal to it elsewhere is real data
          prolog match {
            case Some(pl) if it.hasNext =>
              val first = it.next()
              if (first == pl) it else Iterator.single(first) ++ it
            case _ => it
          }
        }.filter(_.nonEmpty)
        spark.read.options(base).csv(lines)
      } else {
        val bomOpt = if (pre.bomEncoding.isDefined) Map("encoding" -> "UTF-8") else Map.empty[String, String]
        spark.read.options(base ++ bomOpt)
          .option("multiLine", multiLine.toString).csv(path)
      }
    // A UTF-8 BOM surviving into the first column name is a known CSV-
    // reader wart; normalize it away.
    df.columns.headOption.filter(_.startsWith("﻿")) match {
      case Some(c) => df.withColumnRenamed(c, c.stripPrefix("﻿"))
      case None    => df
    }
  }
}

object CsvSource {
  final case class PreScan(bomEncoding: Option[String],
      sepFromProlog: Option[String], prologLine: Option[String])

  private[sources] def stripBom(s: String): String = s.stripPrefix("﻿")

  /** Strip a leading BOM from the FIRST line only. Whole-file decodes
    * know line positions, so only the file-leading char can actually be
    * a BOM — a mid-file line starting with U+FEFF carries a legitimate
    * zero-width no-break space that must survive byte-for-byte (hash
    * fingerprints over the column would otherwise silently change).
    * The distributed UTF-8 text route cannot know file positions and
    * keeps the per-line strip as a documented divergence. */
  private[sources] def stripBomLine0(lines: Iterator[String]): Iterator[String] =
    if (lines.hasNext) Iterator.single(stripBom(lines.next())) ++ lines else lines

  /** The per-file decode of the non-UTF-8 routes (CsvSource's, and
    * LineSource's): each file under `path` read whole (binaryFile),
    * decoded in `enc` — its BOM-consuming form when the pre-scan found a
    * BOM — with a leading BOM stripped from line 0 only, then `perFile`
    * applied to that file's lines. Parallel across files. */
  private[sources] def decodedLines(spark: SparkSession, path: String, pre: PreScan,
      enc: String)(perFile: Iterator[String] => Iterator[String]): Dataset[String] = {
    import spark.implicits._
    val charset = if (pre.bomEncoding.isDefined) Bom.bomConsumingCharset(enc) else enc
    spark.read.format("binaryFile").load(path)
      .select(col("content")).as[Array[Byte]]
      .flatMap(bytes => perFile(stripBomLine0(
        new String(bytes, java.nio.charset.Charset.forName(charset)).linesIterator)))
  }

  /** Read the first bytes of (one file under) `path` through the Hadoop
    * FS API — works for local paths, globs, and any DFS; costs one tiny
    * read. Any pre-scan failure (glob with no direct status, permission
    * quirk) degrades to "no prolog detected" and lets `spark.read.csv`
    * handle the path itself. */
  def preScan(spark: SparkSession, path: String): PreScan = {
    val none = PreScan(None, None, None)
    try {
      Source.firstDataFile(spark, path).map(_.getPath).fold(none) { file =>
      val in = file.getFileSystem(spark.sparkContext.hadoopConfiguration).open(file)
      val buf = new Array[Byte](4096)
      val n = try in.read(buf) finally in.close()
      if (n <= 0) none
      else {
        // UTF-8/16/32 BOM → encoding, exactly the reference's
        // Bom::extract + Bom::getBomEncoding dance
        val bom = Bom.detect(buf, n)
        val (enc, skip) = bom.getOrElse(("UTF-8", 0))
        val text = new String(buf, skip, n - skip, enc)
        val firstLine = text.linesIterator.nextOption().getOrElse("")
        // Excel convention: literal `sep=X` (optionally quoted) as line 1 —
        // reference `src/Extractors/File/CsvExtractor.php:96-120`.
        val sepRe = "^\"?sep=(.)\"?$".r
        firstLine.trim match {
          case sepRe(d) => PreScan(bom.map(_._1), Some(d), Some(firstLine))
          case _        => PreScan(bom.map(_._1), None, None)
        }
      }
      }
    } catch {
      case _: Exception => none
    }
  }
}

/** Line-per-record text scan: trims, drops empty lines, BOM-aware with
  * UTF-8/16/32 detection (reference
  * `src/Extractors/File/LineExtractor.php:15-36`,
  * `File/FileExtractorAbstract.php:53-83`). Emits a single `value`
  * string column, the `Dataset[String]` analog of the reference's
  * string record.
  *
  * UTF-8 input streams line-split distributed (Hadoop line reader).
  * Non-UTF-8 (explicit `encoding` or BOM-detected) decodes per file —
  * parallel across files, which is the shape multi-encoding legacy
  * exports come in. */
final case class LineSource(
    path: String,
    encoding: Option[String] = None,
    override val limit: Option[Long] = None,
    override val offset: Long = 0L,
    override val orderedBy: Seq[String] = Nil) extends Source {
  protected def scan(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val pre = CsvSource.preScan(spark, path)
    val enc = encoding.orElse(pre.bomEncoding).getOrElse("UTF-8")
    if (enc.equalsIgnoreCase("UTF-8"))
      spark.read.text(path).as[String]
        .map(s => CsvSource.stripBom(s).trim)
        .filter(_.nonEmpty)
        .toDF("value")
    else
      CsvSource.decodedLines(spark, path, pre, enc)(_.map(_.trim).filter(_.nonEmpty))
        .toDF("value")
  }
}

/** JSON Lines scan — one JSON object per line (engine extension; the
  * reference's file extractors are CSV/line only, `src/Extractors/
  * File/`). Spark's `json` reader IS JSONL.
  *
  * Schema discipline: pass `schema` whenever it is known. Without it,
  * Spark runs a FULL inference pass over the data before the real scan
  * — at 100 TB that is a second read of the corpus, and inferred types
  * can drift with content (a column of all-numeric strings infers
  * numeric). Inference is the small-data/exploration convenience only;
  * `permissive` (default) turns a malformed line into an all-NULL row
  * instead of failing the job, matching CsvSource's bad-record
  * tolerance — to RETAIN the raw bad line for auditing, include a
  * StringType `_corrupt_record` field in the schema and Spark fills it. */
final case class JsonlSource(
    path: String,
    schema: Option[StructType] = None,
    override val limit: Option[Long] = None,
    override val offset: Long = 0L,
    override val orderedBy: Seq[String] = Nil) extends Source {
  protected def scan(spark: SparkSession): DataFrame =
    schema.fold(spark.read)(spark.read.schema).json(path)
}

/** XML scan (engine extension — Spark 4 ships the XML data source
  * natively, SPARK-44265): one row per `rowTag` element. Same explicit-
  * schema discipline as [[JsonlSource]] — at 100 TB a schema-inference
  * pre-pass over XML is a full extra scan, so production reads state
  * their StructType; inference stays the exploration convenience.
  * XML files are splittable on the row tag, so the scan parallelizes
  * like any text source. */
final case class XmlSource(
    path: String,
    rowTag: String = "row",
    schema: Option[StructType] = None,
    override val limit: Option[Long] = None,
    override val offset: Long = 0L,
    override val orderedBy: Seq[String] = Nil) extends Source {
  protected def scan(spark: SparkSession): DataFrame =
    schema.fold(spark.read)(spark.read.schema)
      .option("rowTag", rowTag).xml(path)
}

/** Avro ⇄ Catalyst conversion for [[AvroSource]] / [[graft.sinks.AvroSink]]
  * — the flat-record subset (long/int/double/float/string/boolean/
  * binary, each optionally nullable as the Avro `[null, T]` union).
  * Avro is the ROW-MAJOR interchange format (Kafka payloads, legacy
  * ingest drops); nested/columnar data arrives as parquet/orc, so
  * records/arrays/maps are rejected loudly rather than half-supported.
  * Schema objects are not serializable — tasks receive the JSON string
  * and re-parse (one parse per task, not per record). */
object AvroConv {
  import org.apache.avro.Schema
  import org.apache.spark.sql.types._

  /** Avro writer schema → StructType, unwrapping `[null, T]` unions. */
  def toStructType(s: Schema): StructType = {
    require(s.getType == Schema.Type.RECORD, s"expected an Avro record, got ${s.getType}")
    StructType(s.getFields.toArray(Array.empty[Schema.Field]).map { f =>
      val (t, nullable) = unwrap(f.schema())
      StructField(f.name(), primitive(t, f.name()), nullable)
    })
  }

  /** Spark type of one writer-schema field ([[unwrap]] + [[primitive]]),
    * for [[AvroSource]]'s explicit-schema guard: comparing against this
    * uses the exact same mapping the schema-less read path applies, so
    * guard and reader can never disagree. Throws (loudly, naming the
    * field) on types outside the flat-primitive scope. */
  def fieldType(f: Schema.Field): DataType = primitive(unwrap(f.schema())._1, f.name())

  /** Whether one writer-schema field is nullable (a `[null, T]` union),
    * for the same guard: an explicit `nullable = false` over a nullable
    * writer column would pass a type-only check and then fail deep
    * inside a task on the first null (exactly the failure mode the
    * guard exists to front-load). */
  def fieldNullable(f: Schema.Field): Boolean = unwrap(f.schema())._2

  private def unwrap(s: Schema): (Schema, Boolean) =
    if (s.getType == Schema.Type.UNION) {
      val branches = s.getTypes.toArray(Array.empty[Schema])
      val nonNull = branches.filter(_.getType != Schema.Type.NULL)
      require(nonNull.length == 1 && branches.length == 2,
        s"only [null, T] unions are supported, got $s")
      (nonNull.head, true)
    } else (s, false)

  private def primitive(s: Schema, field: String): DataType = s.getType match {
    case Schema.Type.LONG    => LongType
    case Schema.Type.INT     => IntegerType
    case Schema.Type.DOUBLE  => DoubleType
    case Schema.Type.FLOAT   => FloatType
    case Schema.Type.STRING  => StringType
    case Schema.Type.BOOLEAN => BooleanType
    case Schema.Type.BYTES   => BinaryType
    case other => throw new IllegalArgumentException(
      s"Avro field $field: unsupported type $other (flat primitives only; " +
        "nested data belongs in parquet/orc)")
  }

  /** StructType → Avro record schema (nullable → `[null, T]` union). */
  def toAvroSchema(st: StructType, name: String): Schema = {
    val fields = new java.util.ArrayList[Schema.Field]()
    st.fields.foreach { f =>
      val base = f.dataType match {
        case LongType    => Schema.create(Schema.Type.LONG)
        case IntegerType => Schema.create(Schema.Type.INT)
        case DoubleType  => Schema.create(Schema.Type.DOUBLE)
        case FloatType   => Schema.create(Schema.Type.FLOAT)
        case StringType  => Schema.create(Schema.Type.STRING)
        case BooleanType => Schema.create(Schema.Type.BOOLEAN)
        case BinaryType  => Schema.create(Schema.Type.BYTES)
        case other => throw new IllegalArgumentException(
          s"AvroSink: unsupported type $other for field ${f.name} " +
            "(flat primitives only; nested data belongs in parquet/orc)")
      }
      val s = if (f.nullable)
        Schema.createUnion(Schema.create(Schema.Type.NULL), base) else base
      fields.add(new Schema.Field(f.name, s,
        null, if (f.nullable) Schema.Field.NULL_DEFAULT_VALUE else null))
    }
    Schema.createRecord(name, null, "graft.avro", false, fields)
  }

  /** Catalyst value → Avro datum (binary wraps; the rest map 1:1). */
  def toAvro(v: Any): AnyRef = v match {
    case null             => null
    case b: Array[Byte]   => java.nio.ByteBuffer.wrap(b)
    case x                => x.asInstanceOf[AnyRef]
  }

  /** Avro datum → Catalyst value. Utf8 and ByteBuffer are COPIED out —
    * the Avro record reader reuses its buffers, so handing the raw
    * object to a Row that outlives the next() call would alias. */
  def fromAvro(v: Any): Any = v match {
    case null                          => null
    case u: org.apache.avro.util.Utf8  => u.toString
    case bb: java.nio.ByteBuffer =>
      val out = new Array[Byte](bb.remaining()); bb.duplicate().get(out); out
    case x => x
  }
}

/** Avro container-file scan (engine extension — the row-major
  * interchange format of Kafka/ingest pipelines). Spark's classpath
  * here carries avro-core/avro-mapred but no DataSource connector, so
  * the scan goes through the public Hadoop input format
  * (`AvroKeyInputFormat`): container files are SPLITTABLE on their sync
  * markers, so a 100 TB directory still fans out block-parallel; each
  * record converts to a Row inside the reading task (the Hadoop-RDD
  * object-reuse contract — see [[AvroConv.fromAvro]]) and everything
  * downstream of the `createDataFrame` is ordinary codegen'd Catalyst.
  * Explicit `schema` follows the JsonlSource discipline; without it the
  * writer schema is sniffed DRIVER-SIDE from one file header (a
  * metadata-sized read, like CsvSource.preScan — never an inference
  * pass over the data). */
final case class AvroSource(
    path: String,
    schema: Option[StructType] = None,
    override val limit: Option[Long] = None,
    override val offset: Long = 0L,
    override val orderedBy: Seq[String] = Nil) extends Source {

  protected def scan(spark: SparkSession): DataFrame = {
    import org.apache.avro.generic.GenericRecord
    import org.apache.avro.mapred.AvroKey
    import org.apache.avro.mapreduce.AvroKeyInputFormat
    import org.apache.hadoop.io.NullWritable
    // Explicit schemas are VALIDATED against the writer schema (one
    // driver-side header read): GenericRecord.get(name) returns null
    // for unknown fields, so a typo'd/mismatched field name would
    // otherwise read as a silently all-NULL column instead of failing
    // loudly like the other sources' scope guards. Types are checked
    // too, via the same AvroConv mapping the schema-less path uses —
    // a name that matches but a type that doesn't (StringType over a
    // long column) would otherwise pass the name guard and misread or
    // fail deep inside a task instead of here.
    val st = schema match {
      case Some(explicit) =>
        val writer = sniffWriterSchema(spark)
        val missing = explicit.fieldNames.filter(n => writer.getField(n) == null)
        if (missing.nonEmpty) {
          val has = writer.getFields.toArray
            .map(_.asInstanceOf[org.apache.avro.Schema.Field].name).mkString(", ")
          throw new IllegalArgumentException(
            s"AvroSource($path): field(s) ${missing.mkString(", ")} not in the " +
              s"writer schema (has: $has)")
        }
        val mistyped = explicit.fields.flatMap { f =>
          val wf = writer.getField(f.name)
          val wt = AvroConv.fieldType(wf) // throws on non-primitive, also loud
          if (wt != f.dataType)
            Some(s"${f.name}: ${f.dataType.simpleString} vs writer ${wt.simpleString}")
          // nullability half of the guard (ADVICE r16): a [null, T]
          // writer column under an explicit nullable=false would pass
          // the type check and NPE mid-task on the first null row
          else if (AvroConv.fieldNullable(wf) && !f.nullable)
            Some(s"${f.name}: declared non-nullable but the writer schema is [null, ${wt.simpleString}]")
          else None
        }
        if (mistyped.nonEmpty) throw new IllegalArgumentException(
          s"AvroSource($path): explicit type(s) disagree with the writer " +
            s"schema — ${mistyped.mkString("; ")}")
        explicit
      case None => AvroConv.toStructType(sniffWriterSchema(spark))
    }
    val names = st.fieldNames
    val rows = spark.sparkContext.newAPIHadoopFile(
        path,
        classOf[AvroKeyInputFormat[GenericRecord]],
        classOf[AvroKey[GenericRecord]],
        classOf[NullWritable],
        spark.sparkContext.hadoopConfiguration)
      .map { case (k, _) =>
        val rec = k.datum()
        Row.fromSeq(names.toIndexedSeq.map(n => AvroConv.fromAvro(rec.get(n))))
      }
    spark.createDataFrame(rows, st)
  }

  /** One driver-side header read of the first part file (CsvSource
    * preScan discipline): the container header carries the writer
    * schema; data blocks are never touched. */
  private def sniffWriterSchema(spark: SparkSession): org.apache.avro.Schema = {
    val file = Source.firstDataFile(spark, path).map(_.getPath)
      .getOrElse(throw new IllegalArgumentException(
        s"AvroSource($path): no data files to sniff a schema from — pass an explicit schema"))
    val in = new org.apache.avro.mapred.FsInput(file, spark.sparkContext.hadoopConfiguration)
    val rdr = org.apache.avro.file.DataFileReader.openReader(
      in, new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    try rdr.getSchema finally rdr.close()
  }
}

/** Arrow IPC ⇄ Catalyst conversion for [[ArrowSource]] /
  * [[graft.sinks.ArrowSink]] — the same flat-primitive scope as
  * [[AvroConv]] (long/int/double/float/string/boolean/binary,
  * nullable). Arrow IPC files ("Feather V2") are the zero-copy
  * interchange format of the pandas/polars/ML-tooling world; nested
  * data belongs in parquet/orc and is rejected loudly. */
object ArrowConv {
  import org.apache.arrow.vector._
  import org.apache.arrow.vector.types.FloatingPointPrecision
  import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => ASchema}
  import org.apache.spark.sql.types._
  import scala.jdk.CollectionConverters._

  def toArrowSchema(st: StructType): ASchema = {
    val fields = st.fields.map { f =>
      val t: ArrowType = f.dataType match {
        case LongType    => new ArrowType.Int(64, true)
        case IntegerType => new ArrowType.Int(32, true)
        case DoubleType  => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
        case FloatType   => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
        case StringType  => ArrowType.Utf8.INSTANCE
        case BooleanType => ArrowType.Bool.INSTANCE
        case BinaryType  => ArrowType.Binary.INSTANCE
        case other => throw new IllegalArgumentException(
          s"ArrowSink: unsupported type $other for field ${f.name} " +
            "(flat primitives only; nested data belongs in parquet/orc)")
      }
      new Field(f.name,
        if (f.nullable) FieldType.nullable(t) else FieldType.notNullable(t),
        null)
    }
    new ASchema(fields.toSeq.asJava)
  }

  def toStructType(s: ASchema): StructType = StructType(
    s.getFields.asScala.map { f =>
      val dt = f.getType match {
        case i: ArrowType.Int if i.getBitWidth == 64 => LongType
        case i: ArrowType.Int if i.getBitWidth == 32 => IntegerType
        case fp: ArrowType.FloatingPoint if fp.getPrecision == FloatingPointPrecision.DOUBLE => DoubleType
        case fp: ArrowType.FloatingPoint if fp.getPrecision == FloatingPointPrecision.SINGLE => FloatType
        case _: ArrowType.Utf8   => StringType
        case _: ArrowType.Bool   => BooleanType
        case _: ArrowType.Binary => BinaryType
        case other => throw new IllegalArgumentException(
          s"ArrowSource: unsupported Arrow type $other for field ${f.getName} " +
            "(flat primitives only)")
      }
      StructField(f.getName, dt, f.isNullable)
    }.toSeq)

  /** Set row `i` of `vec` from a Catalyst value (null → validity 0). */
  def set(vec: FieldVector, i: Int, v: Any): Unit = (vec, v) match {
    case (x: BigIntVector, null)    => x.setNull(i)
    case (x: BigIntVector, n)      => x.setSafe(i, n.asInstanceOf[Long])
    case (x: IntVector, null)       => x.setNull(i)
    case (x: IntVector, n)         => x.setSafe(i, n.asInstanceOf[Int])
    case (x: Float8Vector, null)    => x.setNull(i)
    case (x: Float8Vector, n)      => x.setSafe(i, n.asInstanceOf[Double])
    case (x: Float4Vector, null)    => x.setNull(i)
    case (x: Float4Vector, n)      => x.setSafe(i, n.asInstanceOf[Float])
    case (x: VarCharVector, null)   => x.setNull(i)
    case (x: VarCharVector, s)     => x.setSafe(i, s.asInstanceOf[String].getBytes("UTF-8"))
    case (x: BitVector, null)       => x.setNull(i)
    case (x: BitVector, b)         => x.setSafe(i, if (b.asInstanceOf[Boolean]) 1 else 0)
    case (x: VarBinaryVector, null) => x.setNull(i)
    case (x: VarBinaryVector, b)   => x.setSafe(i, b.asInstanceOf[Array[Byte]])
    case (x, _) => throw new IllegalArgumentException(s"unsupported vector ${x.getClass}")
  }

  /** Read row `i` of `vec` as a Catalyst value (UTF-8/bytes COPIED out
    * — vector buffers die with the reader). */
  def get(vec: FieldVector, i: Int): Any =
    if (vec.isNull(i)) null
    else vec match {
      case x: BigIntVector    => x.get(i)
      case x: IntVector       => x.get(i)
      case x: Float8Vector    => x.get(i)
      case x: Float4Vector    => x.get(i)
      case x: VarCharVector   => new String(x.get(i), "UTF-8")
      case x: BitVector       => x.get(i) == 1
      case x: VarBinaryVector => x.get(i).clone()
      case x => throw new IllegalArgumentException(s"unsupported vector ${x.getClass}")
    }
}

/** Arrow IPC file scan (engine extension — "Feather V2", the
  * interchange format pandas/polars/ML tooling reads zero-copy; the
  * classpath carries arrow-vector but no DataSource, so this is the
  * public-API route). Files decode WHOLE per task through the
  * binaryFile source (the CsvSource non-UTF-8 discipline: per-file
  * memory = file size, parallelism = file count — the shape of
  * interchange drops; columnar data at scale arrives as parquet/orc).
  * Schema: explicit, or sniffed DRIVER-SIDE from one file's footer
  * (metadata read, never a data pass). Vector values are copied out
  * row by row before the reader closes. */
final case class ArrowSource(
    path: String,
    schema: Option[StructType] = None,
    override val limit: Option[Long] = None,
    override val offset: Long = 0L,
    override val orderedBy: Seq[String] = Nil) extends Source {

  protected def scan(spark: SparkSession): DataFrame = {
    val st = schema.getOrElse(sniffSchema(spark))
    val n = st.length
    val rows = spark.read.format("binaryFile").load(path)
      .select(col("content")).rdd
      .flatMap { r =>
        val bytes = r.getAs[Array[Byte]](0)
        val alloc = new org.apache.arrow.memory.RootAllocator()
        val rdr = new org.apache.arrow.vector.ipc.ArrowFileReader(
          new org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel(bytes),
          alloc)
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        try {
          val root = rdr.getVectorSchemaRoot
          while (rdr.loadNextBatch()) {
            val vecs = (0 until n).map(root.getVector)
            var i = 0
            while (i < root.getRowCount) {
              out += Row.fromSeq(vecs.map(v => ArrowConv.get(v, i)))
              i += 1
            }
          }
        } finally { rdr.close(); alloc.close() }
        out
      }
    spark.createDataFrame(rows, st)
  }

  /** Driver-side footer read of the first part file (the Avro sniff
    * discipline) — the IPC footer carries the schema. The Hadoop stream
    * is wrapped in a seekable channel so `ArrowFileReader` reads ONLY
    * the footer (magic + footer block at the tail), never the data
    * body: a multi-GiB part file costs a few KiB of driver IO, and
    * lengths stay Long throughout (no 2 GiB array cap). */
  private def sniffSchema(spark: SparkSession): StructType = {
    val file = Source.firstDataFile(spark, path)
      .getOrElse(throw new IllegalArgumentException(
        s"ArrowSource($path): no data files to sniff a schema from — pass an explicit schema"))
    val fs = file.getPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // The channel (and its Hadoop stream) must not leak if allocator
    // or reader CONSTRUCTION throws before the reader owns it — hence
    // the outer try closing ch on any path the reader didn't close it.
    val ch = new FsSeekableChannel(fs.open(file.getPath), file.getLen)
    try {
      val alloc = new org.apache.arrow.memory.RootAllocator()
      try {
        val rdr = new org.apache.arrow.vector.ipc.ArrowFileReader(
          new org.apache.arrow.vector.ipc.SeekableReadChannel(ch), alloc)
        try ArrowConv.toStructType(rdr.getVectorSchemaRoot.getSchema)
        finally rdr.close() // closes ch → stream
      } finally alloc.close()
    } finally if (ch.isOpen) ch.close()
  }
}

/** Read-only [[java.nio.channels.SeekableByteChannel]] over a Hadoop
  * `FSDataInputStream`, for footer-seeking readers ([[ArrowSource]]'s
  * schema sniff): positional `readFully` per read call, so the reader
  * touches exactly the byte ranges it asks for. Single-threaded use
  * (driver-side metadata reads) — not a shared channel. */
private[graft] final class FsSeekableChannel(
    in: org.apache.hadoop.fs.FSDataInputStream,
    len: Long) extends java.nio.channels.SeekableByteChannel {
  private var pos = 0L
  private var opened = true
  private def ensureOpen(): Unit =
    if (!opened) throw new java.nio.channels.ClosedChannelException
  override def read(dst: java.nio.ByteBuffer): Int = {
    ensureOpen()
    if (pos >= len) return -1
    val n = math.min(dst.remaining().toLong, len - pos).toInt
    val buf = new Array[Byte](n)
    in.readFully(pos, buf, 0, n)
    dst.put(buf, 0, n)
    pos += n
    n
  }
  override def write(src: java.nio.ByteBuffer): Int =
    throw new java.nio.channels.NonWritableChannelException
  override def position(): Long = { ensureOpen(); pos }
  override def position(newPosition: Long): java.nio.channels.SeekableByteChannel = {
    ensureOpen()
    require(newPosition >= 0, s"negative seek: $newPosition"); pos = newPosition; this
  }
  override def size(): Long = len
  override def truncate(size: Long): java.nio.channels.SeekableByteChannel =
    throw new java.nio.channels.NonWritableChannelException
  override def isOpen: Boolean = opened
  override def close(): Unit = { opened = false; in.close() }
}

/** Fixed-width (columnar-text / mainframe export) scan — one record per
  * line, each field at a fixed character offset, space-padded (engine
  * extension: the reference's file extractors are CSV/line,
  * `src/Extractors/File/`; fixed-width is the other legacy-export shape
  * an ETL engine meets, and the one `LineExtractor` users hand-slice
  * today). `layout` gives (field, width) in record order; `types` maps
  * fields to target types, try_cast AFTER the rtrim: a blank field
  * reads as NULL (the format cannot distinguish the two, see
  * [[graft.sinks.FixedWidthSink]]) and a malformed typed field
  * null-fills instead of aborting the job — the same bad-record
  * tolerance [[CsvSource]]'s PERMISSIVE mode gives a 100 TB ingest
  * (ANSI cast would kill the job on the first corrupt record).
  *
  * Scale shape: the scan is `spark.read.text` (splittable, distributed)
  * and every field is substring/rtrim/cast — narrow, whole-stage
  * codegen'd, zero shuffles; column pruning drops unused substrings at
  * the optimizer level since each field is an independent projection. */
final case class FixedWidthSource(
    path: String,
    layout: Seq[(String, Int)],
    types: Map[String, org.apache.spark.sql.types.DataType] = Map.empty,
    override val limit: Option[Long] = None,
    override val offset: Long = 0L,
    override val orderedBy: Seq[String] = Nil) extends Source {
  require(layout.nonEmpty && layout.forall(_._2 > 0),
    s"fixed-width layout needs positive widths: $layout")

  protected def scan(spark: SparkSession): DataFrame = {
    // running 1-based start offsets (substring is 1-based)
    val starts = layout.scanLeft(1) { case (pos, (_, w)) => pos + w }
    val fields = layout.zip(starts).map { case ((name, w), start) =>
      val trimmed = rtrim(substring(col("value"), start, w))
      types.get(name).fold(trimmed)(t => trimmed.try_cast(t)).as(name)
    }
    spark.read.text(path).select(fields: _*)
  }
}

/** In-memory rows: the reference's `CallableExtractor` returning an array
  * (`src/Extractors/CallableExtractor.php:18-99`). For scale this is for
  * small dimension/config data only — it materializes on the driver. */
final case class SeqSource(
    rows: Seq[Row],
    schema: StructType,
    override val limit: Option[Long] = None) extends Source {
  protected def scan(spark: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }
}

/** Generator source from a lazily-evaluated function: the deferred form
  * of `CallableExtractor` (called at exec time, not build time). */
final case class CallableSource(fn: SparkSession => DataFrame) extends Source {
  protected def scan(spark: SparkSession): DataFrame = fn(spark)
}

/** N records of nothing but a row id — the reference's `NullExtractor`
  * record-count driver (`src/Extractors/NullExtractor.php:15-51`, default
  * limit 5000 at `:22`). `spark.range` is already partitioned. */
final case class RangeSource(n: Long = 5000L, numPartitions: Option[Int] = None) extends Source {
  protected def scan(spark: SparkSession): DataFrame =
    numPartitions.fold(spark.range(n))(p => spark.range(0, n, 1, p)).toDF("id")
}

/** JDBC scan — the analog of `PdoExtractor` (reference
  * `src/Extractors/PdoExtractor.php:18-89`). The reference's hand-rolled
  * `LIMIT … OFFSET` pagination (`DbExtractorAbstract.php:142-148`) maps to
  * Spark's partitioned JDBC read (`partitionColumn`/`lowerBound`/
  * `upperBound`/`numPartitions`), and its fetch `batchSize` (default 1337,
  * `ExtractorBatchLimitAbstract.php:29`) maps to `fetchsize`.
  *
  * Like the reference's PdoExtractor (which extends ExtractorLimit,
  * `src/Extractors/ExtractorLimitAbstract.php:38-43`), the source-level
  * `limit`/`offset`/`orderedBy` apply on top of the scan.
  *
  * Integration-tested against embedded Derby (JdbcIntegrationSpec):
  * plain scan, 4-way partitioned range scan, fetchSize, and limit. */
final case class JdbcSource(
    url: String,
    table: String,
    properties: Map[String, String] = Map.empty,
    partitionColumn: Option[String] = None,
    lowerBound: Option[Long] = None,
    upperBound: Option[Long] = None,
    numPartitions: Option[Int] = None,
    fetchSize: Int = 1337,
    override val limit: Option[Long] = None,
    override val offset: Long = 0L,
    override val orderedBy: Seq[String] = Nil) extends Source {

  def options: Map[String, String] = {
    val part = (partitionColumn, lowerBound, upperBound, numPartitions) match {
      case (Some(c), Some(lo), Some(hi), Some(n)) => Map(
        "partitionColumn" -> c, "lowerBound" -> lo.toString,
        "upperBound" -> hi.toString, "numPartitions" -> n.toString)
      case _ => Map.empty[String, String]
    }
    Map("url" -> url, "dbtable" -> table, "fetchsize" -> fetchSize.toString) ++ part ++ properties
  }

  protected def scan(spark: SparkSession): DataFrame =
    spark.read.format("jdbc").options(options).load()
}
