/* In the sql namespace because the session state, the file index and
 * the Parquet footer reader are internal API. */
package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Parquet reads without a schema job. A schema-less
  * `spark.read.parquet` infers its schema in a Spark job, even for one
  * file; at small scale factors that job costs more than the read. This
  * reads the same single footer on the driver and hands the schema to
  * the read. No schema is cached across reads: each read reads its own
  * footer. */
object FooterSchema {

  /** The schema `spark.read.parquet(paths: _*)` infers without
    * `mergeSchema`, from the footer of the one file Spark's inference
    * picks: over the file index's leaf files (hidden files skipped),
    * sorted by full path, `_common_metadata` first, then `_metadata`,
    * then the first data file. The converter takes the flags Spark's
    * inference takes from the session's conf; `nanosAsLong` also turns
    * on the INT64 `TIMESTAMP(NANOS)` → `LongType` decode for this read
    * alone, without the session conf. `None` when a path matches
    * nothing or no file is found. */
  def infer(spark: SparkSession, paths: Seq[String],
      nanosAsLong: Boolean = false): Option[StructType] = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    val hadoopConf = state.newHadoopConf()
    val roots = paths.map { p =>
      val path = new Path(p)
      Option(path.getFileSystem(hadoopConf).globStatus(path)).toSeq.flatten.map(_.getPath)
    }
    if (roots.exists(_.isEmpty)) None
    else {
      val files = new InMemoryFileIndex(spark, roots.flatten, Map.empty, None)
        .allFiles().sortBy(_.getPath.toString)
      val summaries = Seq(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
      summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
        .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
        .map { file =>
          val footer = ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(file, hadoopConf), SKIP_ROW_GROUPS)
          val conf = state.conf
          ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
            new ParquetToSparkSchemaConverter(
              assumeBinaryIsString = conf.isParquetBinaryAsString,
              assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
              inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
              nanosAsLong = nanosAsLong || conf.legacyParquetNanosAsLong,
              respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation))
        }
    }
  }

  /** `spark.read.parquet(paths: _*)` with the schema from [[infer]].
    * Partition columns still come from Spark's file index. When no file
    * is found this is the plain call, so the caller gets Spark's own
    * error. */
  def read(spark: SparkSession, paths: Seq[String],
      nanosAsLong: Boolean = false): DataFrame =
    infer(spark, paths, nanosAsLong)
      .fold(spark.read.parquet(paths: _*))(spark.read.schema(_).parquet(paths: _*))
}
