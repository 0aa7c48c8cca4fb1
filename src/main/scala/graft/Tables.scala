package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.FooterSchema

/** Loaders for the driver-generated testdata tables (see TESTDATA.md).
  *
  * Every query entry point receives `(spark, sfDir)` and resolves tables
  * through here so the same code runs at any scale factor. At cluster
  * scale the path would be a table identifier / catalog lookup instead;
  * the indirection keeps that swap local to this object.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One table, its schema read from its footer on the driver
    * ([[FooterSchema]]), so constructing a query starts no Spark job. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    FooterSchema.read(spark, Seq(s"$dir/$name.parquet"))

  /** The events table's `ts` has shipped with different physical
    * encodings across testdata generations (int64 nanoseconds, then
    * `timestamp[us]`), and an engine must take whatever the source
    * yields rather than hard-code one width (the reference's extractors
    * are likewise encoding-agnostic — `src/Extractors/PdoExtractor.php:66`
    * passes rows through as the driver delivers them). So: read with
    * the footer converter's `nanosAsLong` on (a no-op for non-nano
    * files; the session's conf is not touched), then normalize with
    * [[eventTs]]. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    eventTs(FooterSchema.read(spark, Seq(path), nanosAsLong = true), path)
  }

  /** The ONE rule for the events `ts` encodings, shared by [[events]]
    * and the streaming reader `EventStreams.readEventStream`; it
    * normalizes on the column's ACTUAL type —
    *   - `LongType`            → raw nanos; truncate to a microsecond
    *                             TimestampType,
    *   - `TimestampType`       → already session-zoned micros; pass through,
    *   - `TimestampNTZType`    → cast to TimestampType (the session runs
    *                             UTC, so the instant is unchanged and the
    *                             driver's schema check + DuckDB
    *                             `CAST(ts AS TIMESTAMP)` oracle agree),
    *   - anything else         → fail loudly naming the type and `source`,
    *                             instead of letting 13 downstream queries
    *                             die in analysis. */
  private[graft] def eventTs(raw: DataFrame, source: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    raw.schema("ts").dataType match {
      case LongType =>
        // integer `div`, NOT `/`: double division loses precision above
        // 2^53 and epoch-nanos are ~1.7e18
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalArgumentException(
          s"events.ts: unsupported physical type $other (expected " +
            s"INT64 nanos, TIMESTAMP, or TIMESTAMP_NTZ) in $source")
    }
  }
}
