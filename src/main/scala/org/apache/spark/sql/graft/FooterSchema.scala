package org.apache.spark.sql.graft

import scala.util.control.NonFatal
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{StructType, VariantType}

/** The data schema Spark's parquet source infers for a read, taken from
  * one footer on the driver. Spark 4.1 infers it with a distributed job
  * (`ParquetFileFormat.mergeSchemasInParallel`) even when, as without
  * `mergeSchema`, that job reads a single footer.
  *
  * The footer is the one `ParquetUtils.inferSchema` picks: the first
  * `_common_metadata`, else the first `_metadata`, else the first data
  * file, in path order over the same `InMemoryFileIndex` listing. The
  * converter takes the settings `mergeSchemasInParallel` takes from the
  * session's SQLConf (binary-as-string, INT96, NTZ inference, nanos as
  * long, unknown annotations).
  *
  * `None` wherever the answer might differ from Spark's, so the caller
  * leaves inference (and its error) to Spark: schema merging on, no
  * file, an unreadable footer, a VARIANT column, or a data column that
  * shares its name with a partition column (Spark places that column
  * by its data position, a given schema by its partition position). */
object FooterSchema {
  def infer(spark: SparkSession, paths: Seq[String],
      options: Map[String, String]): Option[StructType] = {
    val conf = spark.sessionState.conf
    try {
      if (new ParquetOptions(options, conf).mergeSchema) return None
      val index = new InMemoryFileIndex(spark, paths.map(new Path(_)),
        options, None)
      val files = index.allFiles().sortBy(_.getPath.toString)
      def named(n: String) = files.find(_.getPath.getName == n)
      val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      val file = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(files.find(f => !summaries(f.getPath.getName)))
      file.map { f =>
        val input = HadoopInputFile.fromStatus(f,
          spark.sessionState.newHadoopConfWithOptions(options))
        val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(
          input, ParquetMetadataConverter.SKIP_ROW_GROUPS))
        ParquetFileFormat.readSchemaFromFooter(footer,
          new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = conf.isParquetBinaryAsString,
            assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
            inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
            nanosAsLong = conf.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation =
              conf.parquetReaderRespectUnknownTypeAnnotation))
      }.filterNot { s =>
        s.existsRecursively(_.isInstanceOf[VariantType]) ||
          index.partitionSchema.exists(p =>
            s.exists(_.name.equalsIgnoreCase(p.name)))
      }
    } catch { case NonFatal(_) => None }
  }
}
