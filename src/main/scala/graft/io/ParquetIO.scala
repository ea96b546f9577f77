package graft.io

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.graft.Footers

/**
 * Parquet source/sink.
 *
 * Reference behavior being re-expressed:
 *  - scan: `SerializedFileReader::get_row_iter` full/projected scan
 *    (src/bin/sample.rs:27-28,59; src/bin/join.rs:42-56,105). Spark's
 *    vectorized Parquet reader plus Catalyst column pruning / predicate
 *    pushdown subsumes both scan variants.
 *  - sink: `write_output` (src/lib.rs:13-134) buffers every row in RAM and
 *    writes ONE row group in ONE file, supporting only 6 flat physical types
 *    and panicking on anything nested (src/lib.rs:122-124). We deliberately
 *    lift both restrictions: output stays a distributed write (no driver
 *    materialization) and all Spark SQL types round-trip (timestamp, date,
 *    decimal, array, map, struct, binary).
 *
 * Reading: [[read]] takes the schema from ONE footer, read on the driver
 * ([[FooterSchemaParquetFormat]]): `_common_metadata`, else `_metadata`,
 * else the first data file by path, picked from the listing Spark makes
 * for the scan anyway. No Spark job runs and the input is listed once, at
 * any scale. Spark's own inference (a job) still runs when `mergeSchema`
 * is on, when the listing is empty, or when that footer fails to read.
 *
 * Writing: every path-addressed write goes through [[writer]], which
 * swaps `file://` for [[NoForkLocalFileSystem]] so Hadoop sets each new
 * file's and directory's permissions in-process instead of forking
 * `chmod`. Hadoop caches one `FileSystem` per scheme JVM-wide, keyed
 * without the conf, so the writer also disables that cache for `file://`;
 * otherwise the swap would never take effect. Other schemes are untouched.
 *
 * `singleFile = true` reproduces the reference's one-file output layout for
 * CLI parity on small data; at 100 TB it must stay false (one task would
 * write everything).
 */
object ParquetIO {

  /** Scan one or more parquet paths; the schema costs one driver-side
    * footer read, no job (see the object doc). */
  def read(spark: SparkSession, paths: String*): DataFrame =
    spark.read.format(classOf[FooterSchemaParquetFormat].getName).load(paths: _*)

  /** `df.write` with permissions set in-process on `file://` (see the
    * object doc): the one writer of graft's path-addressed parquet output.
    * Not for `saveAsTable`, which would persist the options as table
    * properties. */
  private[graft] def writer(df: DataFrame): DataFrameWriter[Row] = df.write
    .option("fs.file.impl", classOf[NoForkLocalFileSystem].getName)
    .option("fs.file.impl.disable.cache", "true")

  /**
   * Normalize an event-time column to the engine contract: LONG EPOCH
   * NANOSECONDS. The `events` fixture has shipped as parquet
   * TIMESTAMP(NANOS) (surfaced as long nanos under
   * `spark.sql.legacy.parquet.nanosAsLong`) and as TIMESTAMP(MICROS)
   * (surfaced as TIMESTAMP_NTZ) across data generations; every downstream
   * operator does pure integer nanos arithmetic, so both shapes funnel
   * here. NTZ wall time is interpreted as UTC (the session time zone) —
   * the same convention DuckDB's `epoch_ns` applies to naive timestamps,
   * so the oracles agree bit-for-bit.
   */
  def tsToNanos(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.LongType => df
      case _ =>
        df.withColumn(tsCol,
          org.apache.spark.sql.functions.unix_micros(
            org.apache.spark.sql.functions.col(tsCol)
              .cast(org.apache.spark.sql.types.TimestampType)) * 1000L)
    }

  /**
   * Overwrite-mode write, mirroring the reference's `File::create` overwrite
   * semantics (src/bin/sample.rs:10, src/bin/join.rs:9).
   *
   * @param compression parquet codec; `None` = Spark session default
   *                    (snappy). The reference writes UNCOMPRESSED
   *                    (parquet-rs 5.5 defaults, src/lib.rs:25-27) — pass
   *                    Some("uncompressed") only if byte-layout parity
   *                    matters; the correctness oracle compares row content.
   * @param rowGroupBytes parquet row-group (block) target size in bytes;
   *                    `None` = writer default (128 MiB). The reference
   *                    buffers everything into ONE row group (src/lib.rs:
   *                    25-27,130-133) — with `singleFile = true` and a
   *                    large-enough value here the output layout matches.
   *                    Row groups are the parallelism unit on read, so at
   *                    100 TB leave the default.
   */
  def write(
      df: DataFrame,
      path: String,
      singleFile: Boolean = false,
      compression: Option[String] = None,
      rowGroupBytes: Option[Long] = None): Unit = {
    val w = writer(if (singleFile) df.coalesce(1) else df).mode("overwrite")
    compression.foreach(c => w.option("compression", c))
    rowGroupBytes.foreach(b => w.option("parquet.block.size", b.toString))
    w.parquet(path)
  }

  /**
   * Footer row count without touching data pages: sums the per-row-group
   * counts recorded in each file's footer (the same numbers `parquet-rs`'s
   * metadata API exposes, reference src/bin/sample.rs:29-31). The files
   * are the ones a scan of `path` reads, from Spark's own listing:
   * partition directories included, `_SUCCESS`, checksum and other hidden
   * files skipped. An empty directory counts 0. The footers are read on
   * the driver whatever the file count; no job runs.
   */
  def rowCount(spark: SparkSession, path: String): Long =
    Footers.counts(spark, Seq(path)).rows

  /** Number of row groups across the parquet files at `path` (footer-only;
    * the same files as [[rowCount]]). */
  def rowGroupCount(spark: SparkSession, path: String): Long =
    Footers.counts(spark, Seq(path)).rowGroups

  /**
   * Schema-drift report: which physical column schema does each file of a
   * (possibly multi-generation) parquet dataset actually carry? Returns one
   * row per (column, physical type) with the number of files carrying it —
   * a column present only in newer files (column-add evolution) shows a
   * smaller file count; a column whose type changed (INT32 -> INT64 writer
   * drift) shows TWO rows. This is the audit that decides whether a
   * directory is safe to read with `mergeSchema` / schema enforcement,
   * without touching a single data page.
   *
   * The files are the ones a scan of `paths` reads, partition
   * subdirectories included (drift most often hides there). Their footers
   * are read on the driver up to the listing threshold and in one job
   * above it ([[Footers.fold]]); the report itself is a local relation.
   */
  def schemaReport(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import spark.implicits._
    require(paths.nonEmpty, "paths must not be empty")
    val files = Footers.listed(spark, paths)
    require(files.nonEmpty, s"no parquet files under ${paths.mkString(", ")}")
    val nFiles = Footers.fold(spark, files, spark.sessionState.newHadoopConf()) { (_, footer) =>
      footer.getFileMetaData.getSchema.getColumns.asScala.map { cd =>
        (cd.getPath.mkString("."), cd.getPrimitiveType.getPrimitiveTypeName.name) -> 1L
      }.toMap
    } { (a, b) => b.foldLeft(a) { case (m, (k, n)) => m.updated(k, m.getOrElse(k, 0L) + n) } }
    nFiles.get.toSeq.map { case ((c, t), n) => (c, t, n) }
      .toDF("col_name", "physical_type", "n_files")
  }

  /**
   * Per-file min/max SKIPPING INDEX for one numeric column — the data-
   * skipping layer every lakehouse keeps beside the data (Delta/Iceberg
   * file stats, Databricks Z-order's companion): footer statistics only,
   * no data pages touched. The footers are read on the driver up to the
   * listing threshold and in one job above it ([[Footers.fold]]).
   *
   * Returns one row per file: (file, row_count, min_v, max_v, has_stats).
   * Files whose footer lacks statistics for the column surface
   * `has_stats = false` with NaN bounds — the honest "must read" marker
   * ([[prunedFiles]] never skips them). int32/int64/float/double columns
   * widen to double bounds (exact for ints < 2^53 — every key/date/cents
   * column in practice).
   */
  def fileStatsIndex(spark: SparkSession, path: String, column: String): DataFrame = {
    import spark.implicits._
    val files = Footers.listed(spark, Seq(path))
    require(files.nonEmpty, s"no parquet files under $path")
    val perFile = Footers.fold(spark, files, spark.sessionState.newHadoopConf()) { (f, footer) =>
      val blocks = footer.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      def num(v: Any): Double = v match {
        case i: java.lang.Integer => i.toDouble
        case l: java.lang.Long => l.toDouble
        case fl: java.lang.Float => fl.toDouble
        case d: java.lang.Double => d
        case other => throw new IllegalArgumentException(
          s"fileStatsIndex supports numeric columns; $column has ${other.getClass}")
      }
      val perBlock = blocks.flatMap { b =>
        b.getColumns.asScala
          .find(_.getPath.toDotString == column)
          .map(_.getStatistics)
      }
      val ok = perBlock.nonEmpty &&
        perBlock.forall(s => s != null && s.hasNonNullValue)
      val file = f.getPath.toString
      Vector(
        if (ok)
          (file, rows, perBlock.map(s => num(s.genericGetMin)).min,
            perBlock.map(s => num(s.genericGetMax)).max, true)
        else (file, rows, Double.NaN, Double.NaN, false))
    }(_ ++ _)
    perFile.get.toDF("file", "row_count", "min_v", "max_v", "has_stats")
  }

  /**
   * The files of `path` that can contain rows with `column` in
   * `[lo, hi]` per the [[fileStatsIndex]] bounds — files without
   * statistics are conservatively kept. The returned list is file NAMES
   * (driver-sized: the listing already lives there); the data itself is
   * never touched.
   */
  def prunedFiles(
      spark: SparkSession, path: String, column: String,
      lo: Double, hi: Double): Seq[String] = {
    import org.apache.spark.sql.functions.{col, not}
    fileStatsIndex(spark, path, column)
      .filter(not(col("has_stats")) ||
        (col("min_v") <= hi && col("max_v") >= lo))
      .select("file").collect().map(_.getString(0)).toSeq
  }

  /**
   * Range scan through the skipping index: read ONLY the files whose
   * stats admit `column ∈ [lo, hi]`, then apply the exact predicate. On
   * a range-clustered layout (sorted/Z-ordered writes) this skips the
   * bulk of the dataset before Spark even lists a row group — the
   * coarse-grained layer above row-group pruning (q97), and the cheapest
   * scan reduction after hive-partition pruning. Result == the plain
   * filtered scan by construction (skipped files provably hold no
   * qualifying rows).
   */
  def prunedRead(
      spark: SparkSession, path: String, column: String,
      lo: Double, hi: Double): DataFrame = {
    import org.apache.spark.sql.functions.col
    val keep = prunedFiles(spark, path, column, lo, hi)
    require(keep.nonEmpty, s"no candidate files for $column in [$lo, $hi]")
    read(spark, keep: _*)
      .filter(col(column) >= lo && col(column) <= hi)
  }

  /**
   * Small-file compaction: rewrite the (flat) parquet directory at
   * `inPath` into ~`targetFileBytes`-sized files at `outPath`. The
   * many-small-files problem is THE silent killer of a 100 TB lake — every
   * query pays per-file open/footer/list costs, and a 1000-executor scan
   * of 10 KB files is pure overhead. Ingest appends (streaming
   * micro-batches, per-partition upserts) create them; this repairs them.
   *
   * Sizing is decided from the file listing alone (no data read): output
   * file count = ceil(totalBytes / targetFileBytes). By default the rewrite
   * is `coalesce` — NO shuffle: input splits are concatenated into output
   * tasks, the cheapest possible rewrite (one read + one write). Pass
   * `balanced = true` to round-robin `repartition` instead — that pays a
   * full shuffle but evens out skewed input files; use it when the input
   * mixes KB-scale and GB-scale files badly enough that coalesce's
   * concatenation would leave stragglers.
   *
   * Returns (filesBefore, filesAfter, totalBytes).
   */
  def compact(
      spark: SparkSession,
      inPath: String,
      outPath: String,
      targetFileBytes: Long = 128L << 20,
      balanced: Boolean = false,
      compression: Option[String] = None): (Int, Int, Long) = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive, got $targetFileBytes")
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(inPath)
    val fs = root.getFileSystem(conf)
    val files = fs.listStatus(root).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    require(files.nonEmpty, s"no parquet files under $inPath")
    val totalBytes = files.map(_.getLen).sum
    val nOut = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val df = read(spark, inPath)
    val w = writer(if (balanced) df.repartition(nOut) else df.coalesce(nOut)).mode("overwrite")
    compression.foreach(c => w.option("compression", c))
    w.parquet(outPath)
    val after = fs.listStatus(new Path(outPath)).count(f =>
      f.isFile && f.getPath.getName.endsWith(".parquet"))
    (files.length, after, totalBytes)
  }

  /**
   * Hive-layout partitioned parquet write: one directory per distinct value
   * combination of `partitionCols` (`lang=en/part-*.parquet`). The payoff is
   * at read time: a filter on a partition column prunes whole directories
   * BEFORE any file is opened (`PartitionFilters` in the scan node — cheaper
   * even than footer-stats pruning, which still lists and opens files). The
   * 100 TB layout rule: partition by the low-cardinality columns every query
   * filters on (date, source, language); never by a high-cardinality key
   * (one directory per value would melt the file listing).
   */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      compression: Option[String] = None): Unit = {
    require(partitionCols.nonEmpty, "partitionCols must not be empty")
    val w = writer(df).mode("overwrite").partitionBy(partitionCols: _*)
    compression.foreach(c => w.option("compression", c))
    w.parquet(path)
  }

  /**
   * Bucketed parquet table write: rows are hash-partitioned into `buckets`
   * files per partition by `bucketCols`, and the layout is recorded in the
   * catalog. Joins/aggregations between tables bucketed the same way on the
   * same keys skip their shuffle entirely — the 100 TB answer for a fact
   * table that is repeatedly joined on the same key (pay one shuffle at
   * write time, never again).
   *
   * Tables go through the session catalog (`saveAsTable`) because bucket
   * metadata lives there, not in the files.
   */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      buckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "bucketCols must not be empty")
    val spark = df.sparkSession
    // overwrite only replaces tables the CATALOG knows about; a fresh
    // session (in-memory catalog) facing a leftover warehouse directory
    // from a previous process would otherwise mix dead files into the new
    // table — delete the orphaned location first
    if (!spark.catalog.tableExists(table)) {
      val loc = new Path(spark.sessionState.conf.warehousePath,
        table.toLowerCase(java.util.Locale.ROOT))
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    val w = df.write.mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    val sorted = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    sorted.saveAsTable(table)
  }
}
