package graft.operators

import scala.annotation.tailrec

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/**
 * Uniform random sampling of a table.
 *
 * Reference semantics (/root/reference/src/bin/sample.rs):
 *  - exact-count without replacement: `sample_size = floor(num_rows * ratio)`
 *    (sample.rs:37), distinct row positions drawn by rejection into a
 *    HashSet (sample.rs:41-46), then one merge scan (sample.rs:56-79).
 *  - `ratio > 1.0` never terminates (sample.rs:43-46) — we reject it.
 *  - no seed (`thread_rng`, sample.rs:42) — we REQUIRE one, otherwise no
 *    correctness oracle is possible.
 *  - the whole sample is buffered in driver RAM (sample.rs:56) — we never do
 *    that; everything below stays distributed.
 *
 * Two modes:
 *  - [[bernoulli]]: Spark's native `df.sample` — binomial output size,
 *    the documented approximate fast path (single scan, no shuffle).
 *  - [[exact]] / [[exactN]]: exact output cardinality at scale via ScaSRS
 *    (Meng, "Scalable Simple Random Sampling and Stratified Sampling",
 *    ICML 2013): tag rows with u ~ U[0,1), keep the n smallest. Two
 *    high-probability thresholds split one scan's ~n + O(sqrt(n))
 *    materialized candidates into rows accepted outright and an
 *    O(sqrt(n)) wait-list; the driver collects only wait-list rank KEYS
 *    (never rows, never more than the wait-list holds) and the sample is
 *    the candidates below the cut key.
 *    No range sort and no shuffle, so this survives n in the billions (unlike
 *    `orderBy(rand).limit(n)`, whose TakeOrderedAndProject funnels n rows
 *    to the driver, or `rdd.takeSample`, likewise driver-bound).
 */
object Sampler {

  final case class SampleReport(inputRows: Long, sampleRows: Long, ratio: Double, seed: Long)

  private val RCOL = "__graft_sample_r"
  private val GRANK = "__graft_sample_rank"
  private val TIE = "__graft_sample_tie"

  /** Bernoulli sampling: output size is binomial(n, ratio), single pass. */
  def bernoulli(df: DataFrame, ratio: Double, seed: Long): DataFrame = {
    require(ratio >= 0.0 && ratio <= 1.0, s"ratio must be in [0,1], got $ratio")
    df.sample(withReplacement = false, ratio, seed)
  }

  /**
   * Exact-count sample: exactly floor(count * ratio) rows (reference
   * truncation semantics, sample.rs:37). ratio=1 is identity; ratio such
   * that floor(...) == 0 yields an empty (but valid) result.
   */
  def exact(df: DataFrame, ratio: Double, seed: Long): DataFrame = {
    require(ratio >= 0.0 && ratio <= 1.0,
      s"ratio must be in [0,1], got $ratio (the reference would loop forever for ratio>1)")
    val total = df.count()
    exactN(df, (total * ratio).toLong, seed, knownTotal = total)
  }

  /**
   * Exactly-n uniform sample without replacement.
   *
   * @param rankCol optional U[0,1)-distributed column expression used as the
   *                sampling rank; default `rand(seed)` (deterministic for a
   *                fixed partition layout). Pass [[positionalRank]] output
   *                for a rank that is stable across partition layouts.
   */
  def exactN(
      df: DataFrame,
      n: Long,
      seed: Long,
      knownTotal: Long = -1L,
      rankCol: Option[Column] = None): DataFrame = {
    val total = if (knownTotal >= 0) knownTotal else df.count()
    if (n <= 0 || total == 0) return df.limit(0)
    if (n >= total) return df
    smallestN(df, rankCol.getOrElse(rand(seed)).cast(DoubleType), n, total).sample
  }

  /**
   * One exact selection and what its cut cost.
   *
   * @param accepted     rows taken without a key comparison
   * @param waitList     candidates the cut chose among, after any narrowing
   * @param keysToDriver rank keys the cut sent to the driver
   */
  private[operators] final case class Selection(
      sample: DataFrame, accepted: Long, waitList: Long, keysToDriver: Long)

  /**
   * The n rows of `df` (0 < n < total) with the smallest (`rank`,
   * candidate position) keys, NULL ranks last.
   *
   * ScaSRS with both of Meng's thresholds at failure probability 1e-8: one
   * filtering scan keeps the rows with u < hi (at least n w.h.p.),
   * materializes them once, tags each with its position (the tie-break)
   * and counts per partition, in one job, the rows with u < lo (at most n
   * w.h.p.), which are accepted outright, and the wait-list lo <= u < hi,
   * which holds O(sqrt(n log 1/delta)) rows. Only the wait-list reaches
   * the cut: the driver collects the n - accepted smallest wait-list KEYS,
   * never rows and never more keys than the wait-list holds, whatever the
   * partition count. The sample is a lazy filter of the candidates,
   * coalesced to the input's rows per partition: no shuffle, and the sink
   * reads the candidates, not the input.
   *
   * A rank that is not uniform stays exact and keeps that driver bound, at
   * the cost of more jobs:
   *  - too few candidates: one rescan with thresholds fitted to the rank
   *    density the first scan saw, then a scan of every row;
   *  - more than n accepted: the accepted rows join the wait-list;
   *  - a wait-list over max(2^16, twice the expected size) rows is
   *    narrowed by bisection on u, each step one count over the
   *    candidates. A wait-list of one rank value is cut by position from
   *    per-partition counts, and so are the NULL ranks that fill a
   *    shortfall. Only a wait-list whose u is one value while its ranks
   *    differ (a hex rank not uniform in its leading bits) sends all its
   *    keys.
   *
   * @param u the rank mapped monotonically to a double, U[0,1) for a
   *          uniform rank: the thresholds' scale
   */
  private[operators] def smallestN(
      df: DataFrame,
      rank: Column,
      n: Long,
      total: Long,
      u: Column = col(RCOL)): Selection = {
    val withR = df.withColumn(RCOL, rank)
    val (lo0, hi0) = thresholds(n, total.toDouble)
    // the most keys the cut collects without narrowing the wait-list
    val budget = math.max(1L << 16, math.ceil(2 * (hi0 - lo0) * total).toLong)

    // one threshold scan: the rows with u < hi (every row, NULL ranks too,
    // once hi reaches 1), with per-partition counts of three bands:
    // 0 = u < lo, 1 = any other non-NULL u, 2 = NULL u
    @tailrec def scan(lo: Double, hi: Double, rescans: Int): (DataFrame, Double, Array[Array[Long]]) = {
      val pool = if (hi < 1.0) withR.filter(u < hi) else withR
      val cand = pool.withColumn(TIE, monotonically_increasing_id()).localCheckpoint()
      val counts = bucketCounts(cand, when(u < lo, 0).when(u.isNotNull, 1).otherwise(2), 3)
      val c = counts.iterator.map(_.sum).sum
      if (c >= n || hi >= 1.0) (cand, lo, counts)
      else {
        release(cand)
        val density = c / hi // non-NULL rows per unit of u, as this scan saw
        if (rescans == 0 && c > 0 && n < density) {
          val (l, h) = thresholds(n, density)
          scan(l, h, 1)
        } else scan(lo, 1.0, rescans + 1)
      }
    }
    val (cand, lo1, counts) = scan(lo0, hi0, 0)

    var lo = lo1
    var top: Option[Double] = None // the wait-list's bound on u once narrowed
    var accepted = counts.iterator.map(_(0)).sum
    var waitParts = counts.map(_(1))
    if (accepted > n) {
      lo = Double.NegativeInfinity; accepted = 0; waitParts = counts.map(c => c(0) + c(1))
    }
    def inWait: Column = top.foldLeft(u >= lo)((w, t) => w && u < t)
    var m = n - accepted // the wait-list rows the sample still needs
    var tied = false     // every wait-list rank is equal
    var splits = true    // u still separates the wait-list
    while (m < waitParts.sum && waitParts.sum > budget && !tied && splits) {
      val r = cand.filter(inWait).agg(min(u), max(u), min(col(RCOL)) === max(col(RCOL))).head()
      if (r.getBoolean(2)) tied = true
      else if (r.getDouble(0) == r.getDouble(1)) splits = false
      else {
        val pivot = between(r.getDouble(0), r.getDouble(1))
        val parts = bucketCounts(cand, when(inWait, when(u < pivot, 0).otherwise(1)), 2)
        val below = parts.iterator.map(_(0)).sum
        if (below >= m) { top = Some(pivot); waitParts = parts.map(_(0)) }
        else { lo = pivot; accepted += below; m -= below; waitParts = parts.map(_(1)) }
      }
    }

    val w = waitParts.sum
    val (pick, keys) =
      if (m == 0) (lit(false), 0L)
      else if (m == w) (inWait, 0L)
      else if (m > w) // only before any narrowing: all non-NULL ranks, then NULLs by position
        (inWait || (u.isNull && col(TIE) <= mthTie(cand, u.isNull, counts.map(_(2)), m - w)), 1L)
      else if (tied) (inWait && col(TIE) <= mthTie(cand, inWait, waitParts, m), 1L)
      else {
        require(m <= Int.MaxValue, s"sample cutoff needs $m keys on the driver")
        // takeOrdered: each partition sends at most m of its wait-list keys
        val cut = cand.filter(inWait).select(col(RCOL), col(TIE))
          .orderBy(col(RCOL), col(TIE)).limit(m.toInt).collect().last
        val r = lit(cut.get(0))
        (inWait && (col(RCOL) < r || (col(RCOL) === r && col(TIE) <= cut.getLong(1))),
          waitParts.iterator.map(math.min(_, m)).sum)
      }
    val inParts = cand.queryExecution.toRdd.getNumPartitions
    val sample = cand.coalesce(math.max(1, math.ceil(inParts.toDouble * n / total).toInt))
      .filter(u < lo || pick)
      .drop(RCOL, TIE)
    Selection(sample, accepted, w, keys)
  }

  /**
   * Meng's ScaSRS thresholds (lo, hi) for n of `total` U[0,1) ranks: more
   * than n ranks below lo, or fewer than n below hi, each have probability
   * under 1e-8.
   */
  private def thresholds(n: Long, total: Double): (Double, Double) = {
    val p = n / total
    val g1 = -math.log(1e-8) / total
    val g2 = 2.0 * g1 / 3.0
    (math.max(0.0, p + g2 - math.sqrt(g2 * g2 + 3.0 * g2 * p)),
      math.min(1.0, p + g1 + math.sqrt(g1 * g1 + 2.0 * g1 * p)))
  }

  /**
   * Per-partition counts of the int column `bucket` (0 until k; NULL is
   * not counted) over materialized candidates: one job, no exchange.
   */
  private def bucketCounts(cand: DataFrame, bucket: Column, k: Int): Array[Array[Long]] =
    cand.select(bucket).queryExecution.toRdd.mapPartitions { rows =>
      val c = new Array[Long](k)
      rows.foreach(r => if (!r.isNullAt(0)) c(r.getInt(0)) += 1)
      Iterator.single(c)
    }.collect()

  /**
   * Position (`TIE`) of the m-th candidate matching `rows`, in position
   * order, from their per-partition counts: one job over the one
   * partition that holds it.
   */
  private def mthTie(cand: DataFrame, rows: Column, perPart: Array[Long], m: Long): Long = {
    val before = perPart.scanLeft(0L)(_ + _)
    val p = before.lastIndexWhere(_ < m)
    val skip = m - 1 - before(p)
    val ties = cand.filter(rows).select(col(TIE)).queryExecution.toRdd
    cand.sparkSession.sparkContext.runJob(ties, (it: Iterator[InternalRow]) => {
      var (i, tie) = (0L, -1L)
      while (i <= skip && it.hasNext) { tie = it.next().getLong(0); i += 1 }
      tie
    }, Seq(p)).head
  }

  /** A double p with a < p <= b (a < b) halfway between them in the order
   *  of doubles, so 64 halvings separate any two. */
  private def between(a: Double, b: Double): Double = {
    def key(d: Double) = { val x = java.lang.Double.doubleToLongBits(d); x ^ ((x >> 63) & Long.MaxValue) }
    val (ka, kb) = (key(a), key(b))
    val k = ka + ((kb - ka - 1) >>> 1) + 1
    java.lang.Double.longBitsToDouble(k ^ ((k >> 63) & Long.MaxValue))
  }

  /** Frees a localCheckpoint's blocks now instead of at the next GC. */
  private def release(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /**
   * Exact-count sample selected by a DETERMINISTIC hex rank (the n
   * lexicographically-smallest ranks win). With a content-hash rank —
   * `md5(seed || key columns)` — the sample is seedless-RNG-free,
   * layout-independent (stable under file compaction/repartition, unlike
   * position ranks), and REPLAYABLE BY ANY ENGINE with the same hash:
   * DuckDB reproduces the exact row set with
   * `QUALIFY row_number() OVER (ORDER BY md5(...)) <= n`, which is what
   * lets a full sample->join pipeline be hash-oracle-checked end-to-end.
   *
   * Same selection as [[exactN]]: ScaSRS thresholds on the rank's 52-bit
   * numeric prefix cut ~n + O(sqrt n) candidates in one scan, and a cut
   * over their O(sqrt n) wait-list keys picks the exact n smallest — no
   * driver row funnel, no sort of the table.
   *
   * @param rank a LOWERCASE-HEX string column (md5-style), uniform in its
   *             leading bits; ties (hash collisions) are broken by
   *             candidate position; NULL ranks sort last
   */
  def exactNByHexRank(df: DataFrame, ratio: Double, rank: Column): DataFrame = {
    require(ratio >= 0.0 && ratio <= 1.0, s"ratio must be in [0,1], got $ratio")
    val total = df.count()
    val n = (total * ratio).toLong
    if (n <= 0) return df.limit(0)
    if (n >= total) return df
    // numeric prefix: first 13 hex chars = 52 bits, exact in a double
    val u = conv(substring(col(RCOL), 1, 13), 16, 10).cast(DoubleType) /
      lit((1L << 52).toDouble)
    smallestN(df, rank, n, total, u).sample
  }

  /**
   * Systematic (every `step`-th) sampling over the deterministic hex-rank
   * order: row i of the rank-sorted table survives iff `(i - 1) % step ==
   * 0` — the 1-in-k design survey methodology prefers when even coverage
   * of the (hash-shuffled) order matters more than independence, and the
   * third member of the portable-sampler family ([[exactNByHexRank]],
   * `perGroupExactKByRank`). With an md5 content rank the selected set is
   * layout-independent and replayable by ANY engine
   * (`QUALIFY (row_number() OVER (ORDER BY md5(...)) - 1) % step = 0`).
   *
   * Scale shape: ONE [[GlobalRank]] distributed range-sort +
   * zipWithIndex; no threshold pre-cut is possible (survivors are spread
   * evenly through the whole order, not concentrated at its head), so
   * the full table rides the range sort — same cost class as any global
   * ordering pass.
   */
  def systematicByHexRank(df: DataFrame, step: Long, rank: Column): DataFrame = {
    require(step >= 1, s"step must be >= 1, got $step")
    GlobalRank.withGlobalRank(df.withColumn(RCOL, rank), Seq(col(RCOL).asc), GRANK)
      .filter((col(GRANK) - 1) % step === 0)
      .drop(GRANK, RCOL)
  }

  /**
   * Partition-layout-independent sampling rank for file-backed DataFrames:
   * hash of (seed, file, row position in file) mapped to U[0,1). Mirrors the
   * reference's BY-POSITION sampling (duplicate rows are sampled
   * independently, sample.rs:41-46) while staying deterministic no matter
   * how Spark splits the files. Requires the `_metadata` struct, i.e. the
   * DataFrame must come straight from a file source.
   */
  def positionalRank(seed: Long): Column = {
    val h = xxhash64(lit(seed), col("_metadata.file_path"), col("_metadata.row_index"))
    // top 53 bits -> exact double in [0,1)
    shiftrightunsigned(h, 11).cast(DoubleType) / lit((1L << 53).toDouble)
  }

  /**
   * Stratified Bernoulli sampling: per-stratum fractions, seeded. Wraps
   * `df.stat.sampleBy` (stratum-local Bernoulli acceptance — single pass, no
   * shuffle; strata not listed in `fractions` are dropped).
   */
  def stratified(df: DataFrame, stratumCol: String, fractions: Map[Any, Double], seed: Long): DataFrame = {
    require(fractions.values.forall(f => f >= 0.0 && f <= 1.0),
      s"fractions must be in [0,1], got $fractions")
    df.stat.sampleBy(stratumCol, fractions, seed)
  }

  /**
   * Exact-count stratified sampling: exactly floor(stratumCount * ratio)
   * rows per stratum. One pass for the stratum histogram, then a single
   * rank-within-stratum selection — the per-stratum analogue of [[exactN]]
   * (window sort is per-stratum, so no global sort and no driver funnel).
   * Assumes stratum cardinality is broadcast-small and no single stratum
   * dominates the data; for one giant stratum, run [[exactN]] on that
   * stratum's slice instead (its ScaSRS path avoids the full sort).
   */
  def stratifiedExact(df: DataFrame, stratumCol: String, ratio: Double, seed: Long): DataFrame = {
    require(ratio >= 0.0 && ratio <= 1.0, s"ratio must be in [0,1], got $ratio")
    // null-safe join key: a NULL stratum is a stratum too — a plain
    // equi-join would silently drop every NULL-stratum row
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("__graft_n"))
      .withColumnRenamed(stratumCol, "__graft_stratum")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol)).orderBy(col(RCOL))
    df.withColumn(RCOL, rand(seed))
      .withColumn("__graft_rk", row_number().over(w))
      .join(broadcast(counts), col(stratumCol) <=> col("__graft_stratum"))
      .filter(col("__graft_rk") <= floor(col("__graft_n") * ratio))
      .select(df.columns.map(col).toSeq: _*) // join reorders columns; restore
  }

  /**
   * Exactly min(k, groupSize) rows per group, in ONE shuffle (partial
   * bottom-k sketches merge map-side — see
   * [[org.apache.spark.sql.graft.BottomKSample]]). Deterministic and
   * partition-layout-independent. The workhorse for "n examples per
   * class/source/language" training-data selection at corpus scale.
   */
  def perGroupExactK(df: DataFrame, groupCols: Seq[String], k: Int, seed: Long): DataFrame = {
    val allCols = df.columns.toSeq
    df.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.bottom_k_sample(struct(allCols.map(col): _*), k, seed).as("__graft_rows"))
      .select(explode(col("__graft_rows")).as("__graft_row"))
      .select(allCols.map(c => col(s"__graft_row.`$c`").as(c)): _*)
  }

  /**
   * Weighted per-group sample: up to k rows per group, inclusion
   * probability scaling with `weightCol` (A-ES without replacement; rows
   * with null/non-positive weight excluded). Same one-shuffle /
   * layout-independent machinery as [[perGroupExactK]] — e.g. "per source,
   * keep 1000 documents biased by quality_score".
   */
  def perGroupWeightedK(
      df: DataFrame, groupCols: Seq[String], weightCol: String, k: Int, seed: Long): DataFrame = {
    val allCols = df.columns.toSeq
    df.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.bottom_k_sample_weighted(
        struct(allCols.map(col): _*), col(weightCol), k, seed).as("__graft_rows"))
      .select(explode(col("__graft_rows")).as("__graft_row"))
      .select(allCols.map(c => col(s"__graft_row.`$c`").as(c)): _*)
  }

  /**
   * Portable deterministic sampling rank: lowercase-hex `md5(seed:k1:k2…)`
   * over the row's unique key columns. Any engine with md5 reproduces the
   * identical rank (and therefore the identical sample) — DuckDB:
   * `md5('seed:' || k1 || ':' || k2)`. Pair with [[exactNByHexRank]],
   * [[stratifiedExactByRank]], [[perGroupExactKByRank]] or
   * [[perGroupWeightedKByRank]].
   *
   * NULL-propagating, matching SQL `||`: a NULL key component yields a
   * NULL rank (a `concat_ws` would silently SKIP the component, colliding
   * distinct keys like (1, NULL) and (1)). Rows with a NULL rank are
   * excluded by the sketch selections (like SQL aggregates ignoring
   * NULLs); use non-null key columns for exact cross-engine replay.
   */
  def hexRank(seed: String, keys: Column*): Column =
    md5(keys.foldLeft(lit(seed): Column)((acc, k) =>
      concat(acc, lit(":"), k.cast("string"))).cast("binary"))

  /**
   * Exact-count stratified sample selected by a deterministic portable
   * rank: exactly floor(stratumCount * ratio) rows per stratum, the rows
   * with the smallest rank within their stratum. Replayable cross-engine:
   * `QUALIFY row_number() OVER (PARTITION BY s ORDER BY rank)
   *    <= floor(count(*) OVER (PARTITION BY s) * ratio)`.
   * One shuffle (both windows share the stratum partitioning). Same
   * giant-stratum caveat as [[stratifiedExact]]: a stratum sorts within
   * one task, so for a dominant stratum run [[exactNByHexRank]] on its
   * slice instead.
   */
  def stratifiedExactByRank(df: DataFrame, stratumCol: String, ratio: Double, rank: Column): DataFrame = {
    require(ratio >= 0.0 && ratio <= 1.0, s"ratio must be in [0,1], got $ratio")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol)).orderBy(col(RCOL))
    val cw = org.apache.spark.sql.expressions.Window.partitionBy(col(stratumCol))
    df.withColumn(RCOL, rank)
      .withColumn("__graft_rk", row_number().over(w))
      .withColumn("__graft_n", count(lit(1)).over(cw))
      .filter(col("__graft_rk") <= floor(col("__graft_n") * ratio))
      .select(df.columns.map(col).toSeq: _*)
  }

  /**
   * Portable per-group exact-k sample: min(k, groupSize) rows per group,
   * the rows with the k smallest `rank` values. Same one-shuffle mergeable
   * sketch shape as [[perGroupExactK]] (bottom-k sketches combine
   * map-side, O(k) memory per group, no per-group window sort), but ranked
   * by a caller expression ANY engine can recompute — with [[hexRank]]
   * the sample replays in SQL as
   * `QUALIFY row_number() OVER (PARTITION BY g ORDER BY md5(...)) <= k`.
   */
  def perGroupExactKByRank(df: DataFrame, groupCols: Seq[String], k: Int, rank: Column): DataFrame = {
    val allCols = df.columns.toSeq
    df.groupBy(groupCols.map(col): _*)
      .agg(graft.functions.bottom_k_by_rank(rank, struct(allCols.map(col): _*), k)
        .as("__graft_rows"))
      .select(explode(col("__graft_rows")).as("__graft_row"))
      .select(allCols.map(c => col(s"__graft_row.`$c`").as(c)): _*)
  }

  /**
   * Portable weighted per-group sample via sequential Poisson / priority
   * sampling (Ohlsson 1998; Duffield-Lund-Thorup priority sampling): each
   * row draws a hash-uniform u and gets priority u / w — the k SMALLEST
   * priorities per group win, so inclusion probability scales with weight,
   * without replacement. Fully deterministic AND bit-replayable in any
   * engine: u is the rank's 13-hex-char (52-bit) prefix as an exact
   * integer-valued double, and IEEE-754 division is correctly rounded, so
   * DuckDB's `(('0x'||substr(h,1,13))::BIGINT)::DOUBLE / w` reproduces the
   * identical priority bits. Ties (identical priorities) break on the full
   * hex rank. Rows with null/non-positive weight are excluded (matching
   * [[perGroupWeightedK]]). One shuffle, mergeable, O(k)/group.
   *
   * Note the weight must survive an exact cast to double on both engines —
   * integers < 2^53 and short decimals qualify; bit-identical replay of a
   * COMPUTED double weight requires the computing expression itself to be
   * portable (e.g. the quality-score formula the q61 oracle replays).
   */
  def perGroupWeightedKByRank(
      df: DataFrame, groupCols: Seq[String], weightCol: String, k: Int, rank: Column): DataFrame = {
    val allCols = df.columns.toSeq
    val u = conv(substring(rank, 1, 13), 16, 10).cast(DoubleType)
    val priority = struct(
      (u / col(weightCol).cast(DoubleType)).as("p"), rank.as("h"))
    df.filter(col(weightCol).isNotNull && col(weightCol).cast(DoubleType) > 0.0)
      .groupBy(groupCols.map(col): _*)
      .agg(graft.functions.bottom_k_by_rank(priority, struct(allCols.map(col): _*), k)
        .as("__graft_rows"))
      .select(explode(col("__graft_rows")).as("__graft_row"))
      .select(allCols.map(c => col(s"__graft_row.`$c`").as(c)): _*)
  }

  /** File-based exact sample with a partition-layout-independent seed. */
  def exactFromParquet(spark: SparkSession, path: String, ratio: Double, seed: Long): DataFrame = {
    require(ratio >= 0.0 && ratio <= 1.0,
      s"ratio must be in [0,1], got $ratio (the reference would loop forever for ratio>1)")
    val df = spark.read.parquet(path)
    val total = df.count()
    val n = (total * ratio).toLong
    // positionalRank reads df's hidden _metadata column; the output keeps
    // df's visible columns only
    exactN(df, n, seed, knownTotal = total, rankCol = Some(positionalRank(seed)))
  }
}
