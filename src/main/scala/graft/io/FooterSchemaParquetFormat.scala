package graft.io

import scala.util.control.NonFatal

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.Footers
import org.apache.spark.sql.types.StructType

/**
 * Spark's parquet source with one change: an unmerged schema is read from
 * one footer on the driver instead of by a Spark job.
 *
 * Spark's own `inferSchema` picks the single file to touch when schemas
 * are not merged (`_common_metadata`, else `_metadata`, else the first
 * data file by path) and then reads its footer through
 * `mergeSchemasInParallel`, a distributed job of one task. Here the same
 * file, taken from the listing Spark already made and passes in, is read
 * with `SKIP_ROW_GROUPS` on the driver and converted by the same
 * `readSchemaFromFooter` and converter flags, so the schema is Spark's.
 * The reference tool takes every schema from the footer the same way
 * (src/bin/sample.rs:31-33, src/bin/join.rs:35).
 *
 * Merged schemas, an empty listing and a footer that fails to read all go
 * to `super.inferSchema`: the merge still reads every footer in a job, and
 * errors keep Spark's classes and messages.
 *
 * Reached by class name through [[ParquetIO.read]]. It is deliberately not
 * registered as a `DataSourceRegister` service: its inherited short name
 * `parquet` would collide with Spark's.
 */
class FooterSchemaParquetFormat extends ParquetFileFormat {

  override def inferSchema(
      sparkSession: SparkSession,
      parameters: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = {
    val conf = sparkSession.sessionState.conf
    val one =
      if (new ParquetOptions(parameters, conf).mergeSchema) None
      else FooterSchemaParquetFormat.schemaFile(files).flatMap { f =>
        try {
          val hadoopConf = sparkSession.sessionState.newHadoopConfWithOptions(parameters)
          val meta = Footers.read(hadoopConf, f, ParquetMetadataConverter.SKIP_ROW_GROUPS)
          val converter = new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = conf.isParquetBinaryAsString,
            assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
            inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
            nanosAsLong = conf.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
          Some(ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta), converter))
        } catch { case NonFatal(_) => None }
      }
    one.orElse(super.inferSchema(sparkSession, parameters, files))
  }
}

object FooterSchemaParquetFormat {

  /** The one file Spark's `ParquetUtils.inferSchema` touches when schemas
    * are not merged: `_common_metadata`, else `_metadata`, else the first
    * data file by path. */
  def schemaFile(files: Seq[FileStatus]): Option[FileStatus] = {
    val byPath = files.sortBy(_.getPath.toString)
    def named(n: String) = byPath.find(_.getPath.getName == n)
    val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(byPath.find(f => !summaries(f.getPath.getName)))
  }
}
