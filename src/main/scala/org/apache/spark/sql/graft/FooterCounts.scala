package org.apache.spark.sql.graft

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}

/**
 * Row and row-group totals from parquet footers: the count the reference
 * tool takes from file metadata (src/bin/sample.rs:29-37), without a scan.
 *
 * Footers are read on the driver, one after another: each file is opened
 * and closed once and no data page is touched.
 */
object FooterCounts {

  /** Footer sums over a set of parquet files. */
  final case class Counts(rows: Long, rowGroups: Long)

  /**
   * The rows of `df`. When its optimized plan, under projections and
   * aliases, is an unfiltered parquet scan of at most
   * `spark.sql.sources.parallelPartitionDiscovery.threshold` files (Spark's
   * own limit for work on the driver), this is the footer sum over the
   * files Spark listed for that scan, and no job runs. Otherwise (another
   * plan, more files, `ignoreCorruptFiles` or `ignoreMissingFiles` set, or
   * a footer that fails to read) it is one job counting the rows of an
   * empty projection.
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
            if (files.size > spark.sessionState.conf.parallelPartitionDiscoveryThreshold) None
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

  /** Footer sums over the parquet data files Spark lists under `paths`:
    * partition directories are descended, and `_SUCCESS`, checksum and
    * other hidden files are skipped, as a scan does. The footers are read
    * on the driver whatever the file count. A missing path throws
    * `FileNotFoundException`. */
  def ofPaths(spark: SparkSession, paths: Seq[String]): Counts = {
    val conf = spark.sessionState.newHadoopConf()
    val roots = paths.map { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      fs.getFileStatus(path).getPath
    }
    val index = new InMemoryFileIndex(spark, roots, Map.empty, None)
    sum(conf, index.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus)))
  }

  private def sum(conf: Configuration, files: Seq[FileStatus]): Counts = {
    val perFile = files.map(footer(conf, _))
    Counts(perFile.map(_.rows).sum, perFile.map(_.rowGroups).sum)
  }

  /** One footer, read through a stream opened and closed here. Not a
    * `ParquetFileReader`: opening one costs about 30x the footer read. */
  private def footer(conf: Configuration, f: FileStatus): Counts = {
    val blocks = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
      ParquetMetadataConverter.NO_FILTER).getBlocks.asScala
    Counts(blocks.iterator.map(_.getRowCount).sum, blocks.size.toLong)
  }
}
