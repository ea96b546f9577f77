package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * Distributed total-order primitives.
 *
 * A global `row_number()`/`ntile()` over an unpartitioned `Window.orderBy`
 * funnels every row through ONE task — correct, but a guaranteed straggler
 * (and eventually an OOM) at 100 TB. The scale-safe plan is a
 * RANGE-partitioned sort (each of N tasks sorts ~1/N of the data;
 * partition i's keys all precede partition i+1's) followed by
 * `zipWithIndex`, which assigns
 * contiguous global indices from per-partition counts with one extra
 * lightweight count job — no single task ever holds the whole input.
 *
 * This object factors that recipe out so every total-order consumer
 * (curriculum ordering, equi-depth histograms, systematic sampling) shares it
 * instead of re-inventing the global window.
 *
 * Determinism: ranks are reproducible for a given dataset iff `sortCols`
 * fully tie-breaks (no two rows equal on the full sort tuple). Range
 * boundaries chosen by the partitioner vary run-to-run, but they only decide
 * WHERE a row sorts, never its position in the total order.
 */
object GlobalRank {

  /**
   * Appends a 1-based dense global rank column ordered by `sortCols`.
   * Two shuffle-free-after-sort passes: range sort, then zipWithIndex's
   * count job + index assignment. O(rows/partitions) memory per task.
   */
  def withGlobalRank(
      df: DataFrame,
      sortCols: Seq[Column],
      rankName: String = "global_rank",
      numPartitions: Int = 0): DataFrame = {
    require(sortCols.nonEmpty, "sortCols must be non-empty")
    val spark = df.sparkSession
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val sorted = df
      .repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val schema = StructType(
      df.schema.fields :+ StructField(rankName, LongType, nullable = false))
    val ranked = sorted.rdd.zipWithIndex().map { case (row, idx) =>
      Row.fromSeq(row.toSeq :+ (idx + 1L))
    }
    spark.createDataFrame(ranked, schema)
  }

  /**
   * SQL `NTILE(bins)` as a closed-form expression over a 1-based global rank:
   * with n rows, the first n%bins buckets get ⌈n/bins⌉ rows and the rest get
   * ⌊n/bins⌋ — identical to the window function, but computed from (rank, n)
   * with no window at all.
   */
  def ntileExpr(rank: Column, totalRows: Long, bins: Int): Column = {
    require(bins > 0, s"bins must be positive, got $bins")
    val q = totalRows / bins // small-bucket size
    val r0 = totalRows % bins // number of (q+1)-sized leading buckets
    val threshold = r0 * (q + 1) // last rank inside a big bucket
    if (q == 0) rank // fewer rows than bins: one row per bucket
    else
      when(rank <= threshold, (rank - 1) / (q + 1) + 1)
        .otherwise(lit(r0) + (rank - threshold - 1) / q + 1)
  }

  /**
   * Appends a 1-based global rank AND the inclusive/exclusive running sums
   * of `valueCol` over the same total order — the distributed PREFIX SCAN
   * (Blelloch): range sort, one pass computing per-partition local running
   * sums plus each partition's total, then a driver-side exclusive scan of
   * the (numPartitions-sized) totals broadcast back as offsets. No task
   * ever sees more than its range slice; the offsets array is tiny. The
   * global-window formulation (`SUM OVER (ORDER BY ...)`) would funnel the
   * entire input through one task — same anti-pattern GlobalRank exists to
   * avoid.
   *
   * `valueCol` must be integral (LongType after cast) so the sums are
   * order-independent and bit-reproducible on any engine.
   */
  def withPrefixSum(
      df: DataFrame,
      sortCols: Seq[Column],
      valueCol: Column,
      rankName: String = "global_rank",
      sumName: String = "prefix_sum",
      numPartitions: Int = 0): DataFrame =
    withPrefixSums(df, sortCols, Seq(valueCol), rankName, Seq(sumName), numPartitions)

  /**
   * The k-column generalization of [[withPrefixSum]]: ONE range sort
   * yields the global rank plus the inclusive running sums of EVERY
   * `valueCols(i)` over the same total order (per-partition local scans +
   * one driver-side exclusive scan of the numPartitions×k totals matrix,
   * broadcast back). Statistical consumers routinely need several
   * cumulative counters over one order — a two-sample ECDF needs both
   * sides' counts at every cut — and running the sort twice would double
   * the dominant cost.
   */
  def withPrefixSums(
      df: DataFrame,
      sortCols: Seq[Column],
      valueCols: Seq[Column],
      rankName: String = "global_rank",
      sumNames: Seq[String] = Seq("prefix_sum"),
      numPartitions: Int = 0): DataFrame = {
    require(sortCols.nonEmpty, "sortCols must be non-empty")
    require(valueCols.nonEmpty && valueCols.size == sumNames.size,
      s"need one sum name per value column, got ${valueCols.size} vs ${sumNames.size}")
    val spark = df.sparkSession
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    val k = valueCols.size
    val tmpNames = valueCols.indices.map(i => s"__psv$i")
    val withV = valueCols.zip(tmpNames).foldLeft(df) { case (d, (c, n)) =>
      d.withColumn(n, c.cast(LongType))
    }
    val sorted = withV
      .repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .rdd
    val vIdx = tmpNames.map(withV.schema.fieldIndex).toArray
    // pass 1: per-partition (row count, k value totals) — one tiny row each
    val partStats = sorted.mapPartitionsWithIndex { (pid, it) =>
      var n = 0L; val s = new Array[Long](k)
      it.foreach { r =>
        n += 1
        var i = 0
        while (i < k) { s(i) += r.getLong(vIdx(i)); i += 1 }
      }
      Iterator((pid, n, s))
    }.collect().sortBy(_._1)
    val rankOffsets = partStats.scanLeft(0L)(_ + _._2).init
    val sumOffsets = Array.tabulate(k) { i =>
      partStats.scanLeft(0L)((acc, p) => acc + p._3(i)).init
    }
    val schema = StructType(
      df.schema.fields ++ (StructField(rankName, LongType, nullable = false) +:
        sumNames.map(n => StructField(n, LongType, nullable = false))))
    // pass 2: local running sums + broadcast offsets = global prefix sums
    val ranked = sorted.mapPartitionsWithIndex { (pid, it) =>
      var rank = rankOffsets(pid)
      val acc = Array.tabulate(k)(i => sumOffsets(i)(pid))
      it.map { row =>
        rank += 1
        var i = 0
        while (i < k) { acc(i) += row.getLong(vIdx(i)); i += 1 }
        // drop the temp value columns (they sit at the tail, in order)
        Row.fromSeq(row.toSeq.dropRight(k) ++ (rank +: acc.toSeq))
      }
    }
    spark.createDataFrame(ranked, schema)
  }

  /**
   * Appends both a global rank and its `NTILE(bins)` bucket, ordered by
   * `sortCols`. The row count comes from one extra `df.count()` — for
   * file-backed inputs Catalyst prunes that to a metadata-only scan.
   */
  def withNtile(
      df: DataFrame,
      sortCols: Seq[Column],
      bins: Int,
      binName: String,
      rankName: String = "global_rank",
      numPartitions: Int = 0): DataFrame = {
    val n = df.count()
    withGlobalRank(df, sortCols, rankName, numPartitions)
      .withColumn(binName, ntileExpr(col(rankName), n, bins).cast(LongType))
  }
}
