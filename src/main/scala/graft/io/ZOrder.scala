package graft.io

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Z-order (Morton-curve) data layout for multi-column row-group pruning —
 * the standard lakehouse OPTIMIZE technique (Delta/Iceberg ZORDER BY): rows
 * are sorted along an interleaved-bit curve over the clustering columns, so
 * every parquet row group gets a TIGHT min/max envelope on ALL of them and
 * a scan filtering on any clustered column (or several at once) can skip
 * most row groups from footer statistics alone. A single-column sort gives
 * pruning on one column only; the Z-curve trades a little per-column
 * locality for pruning on every clustered dimension — the difference
 * between reading 1% and 100% of a 100 TB table for a 2-D range probe.
 *
 * Everything is codegen'd column arithmetic (width_bucket + shift/mask
 * interleave); the only movement is the one range-repartition + local sort
 * any layout rewrite requires.
 */
object ZOrder {

  /** Interleave the low 16 bits of `c` into the even bit positions of a
    * 32-bit value (classic Morton spread via shift-or-mask steps — all
    * codegen'd long arithmetic). */
  private def spread16(c: Column): Column = {
    var x = c.bitwiseAND(lit(0xFFFFL))
    x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
    x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x33333333L))
    x = x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x55555555L))
    x
  }

  /**
   * Morton key over two numeric columns, each rank-normalized to 16-bit
   * buckets with `width_bucket` over the column's [min, max] (one tiny
   * driver-side agg for the bounds — no sort, no sketch pass). NULLs sort
   * first (bucket 0).
   */
  def mortonKey(df: DataFrame, colA: String, colB: String): Column = {
    val bounds = df.agg(
      min(col(colA).cast("double")), max(col(colA).cast("double")),
      min(col(colB).cast("double")), max(col(colB).cast("double"))).head()
    require(!bounds.isNullAt(0) && !bounds.isNullAt(2),
      s"cannot z-order on '$colA'/'$colB': empty input or all-NULL clustering column")
    def bucket(c: String, lo: Double, hi: Double): Column = {
      val span = if (hi > lo) hi - lo else 1.0
      // width_bucket is 1-based and right-open; clamp into [0, 65535]
      least(greatest(
        width_bucket(col(c).cast("double"), lit(lo), lit(lo + span), lit(65536)) - 1,
        lit(0L)), lit(65535L))
    }
    val ba = coalesce(bucket(colA, bounds.getDouble(0), bounds.getDouble(1)), lit(0L))
    val bb = coalesce(bucket(colB, bounds.getDouble(2), bounds.getDouble(3)), lit(0L))
    spread16(ba).bitwiseOR(shiftleft(spread16(bb), 1))
  }

  /**
   * Rewrite `df` to `path` clustered along the Z-curve of (colA, colB):
   * range-repartition by the Morton key (balanced output files), sort
   * within partitions, write with bounded row groups so the min/max
   * envelopes stay tight. The key column itself is dropped — layout is a
   * physical property, not schema.
   */
  def writeZOrdered(
      df: DataFrame, path: String, colA: String, colB: String,
      numFiles: Int = 8, rowGroupBytes: Long = 1L << 20): Unit = {
    val keyed = df.withColumn("__zkey", mortonKey(df, colA, colB))
    keyed
      .repartitionByRange(numFiles, col("__zkey"))
      .sortWithinPartitions(col("__zkey"))
      .drop("__zkey")
      .write.mode("overwrite")
      .option("parquet.block.size", rowGroupBytes)
      .parquet(path)
  }

  /** Row groups whose [min, max] envelope on `column` overlaps
    * [lo, hi] — the set a statistics-pruning scan would actually read —
    * and all row groups, over the files a scan of `path` reads.
    * Footer-only: no row data is touched; the footers are read on the
    * driver up to the listing threshold and in one job above it
    * ([[org.apache.spark.sql.graft.Footers.fold]]). */
  def overlappingRowGroups(
      spark: org.apache.spark.sql.SparkSession, path: String,
      column: String, lo: Double, hi: Double): (Long, Long) = {
    import org.apache.spark.sql.graft.Footers
    import scala.jdk.CollectionConverters._
    val files = Footers.listed(spark, Seq(path))
    Footers.fold(spark, files, spark.sessionState.newHadoopConf()) { (f, footer) =>
      val blocks = footer.getBlocks.asScala
      val overlapping = blocks.count { block =>
        val colChunk = block.getColumns.asScala
          .find(_.getPath.toDotString == column)
          .getOrElse(throw new IllegalArgumentException(
            s"column '$column' not found in ${f.getPath}"))
        val stats = colChunk.getStatistics
        val (mn, mx) = (stats.genericGetMin, stats.genericGetMax) match {
          case (a: java.lang.Number, b: java.lang.Number) =>
            (a.doubleValue(), b.doubleValue())
          case other => throw new IllegalArgumentException(
            s"non-numeric stats for '$column': $other")
        }
        mx >= lo && mn <= hi
      }
      (overlapping.toLong, blocks.size.toLong)
    } { case ((o1, t1), (o2, t2)) => (o1 + o2, t1 + t2) }.getOrElse((0L, 0L))
  }
}
