package org.apache.spark.sql.graft

import java.io.FileNotFoundException

import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.format.converter.ParquetMetadataConverter.MetadataFilter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}
import org.apache.spark.util.SerializableConfiguration

/**
 * The one place parquet footers are listed and read: totals, schemas and
 * statistics without touching a data page, as the reference takes its
 * total and schema from file metadata (src/bin/sample.rs:29-37,
 * src/bin/join.rs:35).
 *
 *  - Listing: user paths through Spark's own `InMemoryFileIndex`, so the
 *    files are the ones a scan reads (partition directories descended,
 *    `_SUCCESS`, checksum and other hidden files skipped); a TxLog segment
 *    directory through Hadoop `FileSystem`.
 *  - Reading: `ParquetFooterReader` on a stream opened and closed per file,
 *    never a `ParquetFileReader` (opening one costs about 30x the footer).
 *  - Placement ([[fold]]): up to
 *    `spark.sql.sources.parallelPartitionDiscovery.threshold` files (Spark's
 *    own limit for listing work on the driver) the footers are read on the
 *    driver, one after another, and no job runs; above it they are read in
 *    one job that reduces each partition's footers before they reach the
 *    driver. The session's Hadoop configuration ships with the job, which
 *    is why this object lives under `org.apache.spark`.
 */
object Footers {

  /** Footer sums over a set of parquet files. */
  final case class Counts(rows: Long, rowGroups: Long)

  /** The parquet data files a scan of `paths` reads, from Spark's listing.
    * A missing path throws `FileNotFoundException`. */
  def listed(spark: SparkSession, paths: Seq[String]): Seq[FileStatus] = {
    val conf = spark.sessionState.newHadoopConf()
    val roots = paths.map { p =>
      val path = new Path(p)
      path.getFileSystem(conf).getFileStatus(path).getPath
    }
    new InMemoryFileIndex(spark, roots, Map.empty, None).listFiles(Nil, Nil)
      .flatMap(_.files.map(_.fileStatus))
  }

  /** The parquet files of one TxLog segment directory, by path; none when
    * the directory does not exist. */
  def segmentFiles(conf: Configuration, dir: String): Seq[FileStatus] = {
    val path = new Path(dir)
    try path.getFileSystem(conf).listStatus(path).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.toString)
    catch { case _: FileNotFoundException => Nil }
  }

  /** One footer, read through a stream opened and closed here. */
  def read(conf: Configuration, file: FileStatus,
      filter: MetadataFilter = ParquetMetadataConverter.NO_FILTER): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf), filter)

  /** `f` over each file's footer, reduced by the associative `merge`; None
    * for no files. Placed on the driver or in one job by the file count
    * (see the object doc). */
  def fold[T: ClassTag](spark: SparkSession, files: Seq[FileStatus], conf: Configuration)(
      f: (FileStatus, ParquetMetadata) => T)(merge: (T, T) => T): Option[T] =
    if (onDriver(spark, files)) files.map(s => f(s, read(conf, s))).reduceOption(merge)
    else {
      val sc = spark.sparkContext
      val shipped = sc.broadcast(new SerializableConfiguration(conf))
      val parts = math.min(files.size, spark.sessionState.conf.parallelPartitionDiscoveryParallelism)
      sc.parallelize(files, parts).mapPartitions { it =>
        val c = shipped.value.value
        it.map(s => f(s, read(c, s))).reduceOption(merge).iterator
      }.collect().reduceOption(merge)
    }

  /** Footer sums over the files [[listed]] under `paths`, read on the
    * driver whatever the file count; no files count 0. */
  def counts(spark: SparkSession, paths: Seq[String]): Counts =
    sum(spark.sessionState.newHadoopConf(), listed(spark, paths))

  /**
   * The rows of `df`. When its optimized plan, under projections and
   * aliases, is an unfiltered parquet scan of at most the driver threshold
   * of files, this is the footer sum over the files Spark listed for that
   * scan, and no job runs. Otherwise (another plan, more files,
   * `ignoreCorruptFiles` or `ignoreMissingFiles` set, or a footer that
   * fails to read) it is one job counting the rows of an empty projection.
   */
  def rowsOf(df: DataFrame): Long =
    footerRows(df).getOrElse(df.select().queryExecution.toRdd.count())

  private def footerRows(df: DataFrame): Option[Long] = {
    @scala.annotation.tailrec
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case Project(_, child) => strip(child)
      case SubqueryAlias(_, child) => strip(child)
      case other => other
    }
    strip(df.queryExecution.optimizedPlan) match {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
          val opts = new FileSourceOptions(fs.options)
          if (opts.ignoreCorruptFiles || opts.ignoreMissingFiles) None
          else {
            val spark = df.sparkSession
            val files = fs.location.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus))
            if (!onDriver(spark, files)) None
            else {
              val conf = spark.sessionState.newHadoopConfWithOptions(fs.options)
              try Some(sum(conf, files).rows)
              catch { case NonFatal(_) => None }
            }
          }
        case _ => None
      }
      case _ => None
    }
  }

  private def onDriver(spark: SparkSession, files: Seq[FileStatus]): Boolean =
    files.size <= spark.sessionState.conf.parallelPartitionDiscoveryThreshold

  private def sum(conf: Configuration, files: Seq[FileStatus]): Counts =
    files.foldLeft(Counts(0L, 0L)) { (acc, f) =>
      val blocks = read(conf, f).getBlocks.asScala
      Counts(acc.rows + blocks.iterator.map(_.getRowCount).sum, acc.rowGroups + blocks.size)
    }
}
