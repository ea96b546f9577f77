package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.FloatType
import graft.functions.vec_cosine

/**
 * Embedding utility operators beyond ANN search (extension surface; the
 * reference has no vector operators — SURVEY.md §2.2): int8 scalar
 * quantization, seeded random projection, and MMR diversification.
 *
 * 100 TB design notes:
 *  - Scalar quantization stores ONE BYTE per dimension (4x smaller than
 *    float32): the per-dim [lo, hi] bounds come from one map-side-combined
 *    aggregation, codes are a codegen projection, and search dequantizes on
 *    the fly inside the scan — the corpus never shuffles.
 *  - Random projection is a pure projection (no shuffle, no fit): the
 *    matrix is regenerated from the seed on every executor via a splitmix
 *    hash, so nothing is broadcast and the output is layout-independent.
 *  - MMR re-ranks a BOUNDED candidate pool (the top-`poolSize` ANN/brute
 *    result, poolSize ~ 100): the O(poolSize^2 * k) selection loop runs
 *    per-query inside `flatMapGroups` over groups that are poolSize-bounded
 *    by construction — this is driver-free and skew-free at any corpus
 *    size because the pool, not the corpus, sets the group width.
 */
object VectorOps {

  // ---- int8 scalar quantization -----------------------------------------

  /** A scalar-quantized corpus: byte codes plus the per-dim bounds (tiny,
    * dim-sized — index metadata like the PQ codebook). Codes are stored
    * offset by -128 to fit a signed byte; `code[i]` maps back to
    * `lo[i] + (code[i] + 128) * (hi[i] - lo[i]) / 255`. Persistable like
    * [[Similarity.IvfIndex]]/[[Similarity.PqIndex]]: build once, save,
    * search many times. */
  final case class SqIndex(codes: DataFrame, lo: Array[Double], hi: Array[Double]) {
    def save(dir: String): Unit = {
      codes.write.mode("overwrite").parquet(s"$dir/codes.parquet")
      val spark = codes.sparkSession
      import spark.implicits._
      lo.indices.map(i => (i, lo(i), hi(i))).toDF("dim", "lo", "hi")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/bounds.parquet")
    }
  }

  def loadSqIndex(spark: org.apache.spark.sql.SparkSession, dir: String): SqIndex = {
    val bounds = graft.io.ParquetIO.read(spark, s"$dir/bounds.parquet")
      .collect().sortBy(_.getAs[Int]("dim"))
    SqIndex(graft.io.ParquetIO.read(spark, s"$dir/codes.parquet"),
      bounds.map(_.getAs[Double]("lo")), bounds.map(_.getAs[Double]("hi")))
  }

  /**
   * Fit per-dimension bounds and quantize every vector to one byte per dim.
   * The bounds aggregation is a posexplode + (pos)-keyed min/max — map-side
   * combined, shuffling at most (dims x partitions) rows regardless of
   * corpus size; the code projection is codegen (`transform` over literal
   * bound arrays).
   */
  def buildSqIndex(data: DataFrame, idCol: String, vecCol: String): SqIndex = {
    val bounds = data.select(posexplode(col(vecCol)))
      .groupBy(col("pos"))
      .agg(min(col("col").cast("double")).as("lo"), max(col("col").cast("double")).as("hi"))
      .collect().sortBy(_.getInt(0))
    require(bounds.nonEmpty, "empty corpus or empty vectors")
    val lo = bounds.map(_.getDouble(1))
    val hi = bounds.map(r => if (r.getDouble(2) > r.getDouble(1)) r.getDouble(2) else r.getDouble(1) + 1.0)
    SqIndex(encodeSq(lo, hi, data, idCol, vecCol), lo, hi)
  }

  /** Quantize vectors against FIXED per-dim bounds (clamping outside
    * values to the byte range) — shared by build and ingest. */
  private def encodeSq(lo: Array[Double], hi: Array[Double],
      data: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val loLit = typedLit(lo.toSeq)
    val stepLit = typedLit(lo.indices.map(i => (hi(i) - lo(i)) / 255.0))
    // stored as a true signed byte (value - 128): the index really is one
    // byte per dimension on disk and in shuffle buffers
    data.select(col(idCol).cast("long").as("neighbor_id"),
      transform(col(vecCol), (x, i) =>
        (round(least(greatest((x.cast("double") - element_at(loLit, i + 1)) /
          element_at(stepLit, i + 1), lit(0.0)), lit(255.0))) - 128).cast("byte")).as("code"))
  }

  /**
   * Incremental SQ ingest — the FAISS `add` discipline the other index
   * tiers already follow (HNSW `hnswInsert`, IVF-PQ `ingestIvfPq`,
   * MinHash `ShingleIndex.ingest`): new vectors quantize against the
   * EXISTING per-dim bounds (the bounds are the index's trained artifact;
   * re-fitting them would silently re-point every stored code) and their
   * codes union into the corpus. The one failure mode a fixed grid has is
   * DISTRIBUTION DRIFT: a batch value outside [lo, hi] saturates to the
   * edge code, and enough saturation quietly degrades every distance the
   * dimension contributes. The ingest therefore measures the clamped
   * fraction in the SAME pass that encodes (one aggregate over the batch,
   * nothing collected but two counters) and REFUSES loudly past
   * `maxClampFrac` — past that, rebuild the index; below it, the clamp
   * count is still reported in the returned index's provenance via the
   * (clampedElems, totalElems) pair.
   *
   * Duplicate ids refuse loudly (a `limit(1)` probe — the check cannot
   * OOM the driver): SQ ingest is append-only, like every other tier.
   */
  def ingestSq(index: SqIndex, batch: DataFrame, idCol: String, vecCol: String,
      maxClampFrac: Double = 0.05): (SqIndex, Long, Long) = {
    val dup = index.codes.select(col("neighbor_id"))
      .join(batch.select(col(idCol).cast("long").as("neighbor_id")),
        Seq("neighbor_id"), "left_semi")
      .limit(1).collect()
    require(dup.isEmpty,
      s"ingestSq: id ${dup.headOption.map(_.getLong(0)).getOrElse(-1L)} is " +
        "already indexed — SQ ingest is append-only; rebuild to re-point ids")
    val loLit = typedLit(index.lo.toSeq)
    val hiLit = typedLit(index.hi.toSeq)
    val oobPerRow = aggregate(
      transform(col(vecCol), (x, i) =>
        when(x.cast("double") < element_at(loLit, i + 1) ||
          x.cast("double") > element_at(hiLit, i + 1), 1L).otherwise(0L)),
      lit(0L), (acc, v) => acc + v)
    val drift = batch.agg(
      sum(oobPerRow).as("clamped"),
      sum(size(col(vecCol)).cast("long")).as("total")).head()
    val clamped = Option(drift.getAs[Long]("clamped")).getOrElse(0L)
    val total = Option(drift.getAs[Long]("total")).getOrElse(0L)
    require(total == 0L || clamped.toDouble / total <= maxClampFrac,
      f"ingestSq: ${clamped.toDouble / math.max(total, 1L)}%.4f of batch elements fall " +
        f"outside the trained per-dim bounds (maxClampFrac=$maxClampFrac%.4f) — the " +
        "distribution drifted; rebuild the index instead of saturating codes")
    (SqIndex(index.codes.unionByName(encodeSq(index.lo, index.hi, batch, idCol, vecCol)),
      index.lo, index.hi), clamped, total)
  }

  /**
   * ANN search over the quantized corpus: approximate cosine on the
   * dequantized codes (codegen transform + native [[vec_cosine]], corpus
   * never shuffles), shortlist of `rerank` per query via the mergeable
   * bottom-k aggregate (no window over the full scored relation), then an
   * exact-cosine rerank of the shortlist against the original vectors.
   */
  def searchSq(
      index: SqIndex,
      data: DataFrame, dataId: String, dataVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, rerank: Int = 100,
      allowed: Option[DataFrame] = None): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val loLit = typedLit(index.lo.toSeq)
    val stepLit = typedLit(index.lo.indices.map(i => (index.hi(i) - index.lo(i)) / 255.0))
    val deq = transform(col("code"), (c, i) =>
      (element_at(loLit, i + 1) +
        (c.cast("double") + 128.0) * element_at(stepLit, i + 1)).cast(FloatType))
    // FILTERED vector search: the allow-set semi-joins the CODES table
    // BEFORE ADC scoring, so the shortlist is drawn entirely from rows
    // that pass the predicate — index-level filtering, no post-filter
    // recall loss (with rerank >= |allowed| the search is exact over the
    // filtered corpus). The allow-set is its single id column.
    val codes = allowed match {
      case None => index.codes
      case Some(a) =>
        index.codes.join(
          a.select(col(a.columns.head).cast("long").as("neighbor_id")),
          Seq("neighbor_id"), "left_semi")
    }
    val approx = codes
      .join(broadcast(queries.select(col(queryId).cast("long").as("query_id"),
        col(queryVec).as("__qv"))))
      .withColumn("adist", -vec_cosine(deq, col("__qv")))
    val shortlist = approx.groupBy(col("query_id"))
      .agg(graft.functions.bottom_k_by_rank(
        struct(col("adist"), col("neighbor_id")), col("neighbor_id"), rerank).as("__cand"))
      .select(col("query_id"), explode(col("__cand")).as("neighbor_id"))
    val cand = shortlist
      .join(data.select(col(dataId).cast("long").as("neighbor_id"), col(dataVec).as("__dv")),
        "neighbor_id")
      .join(broadcast(queries.select(col(queryId).cast("long").as("query_id"),
        col(queryVec).as("__qv"))), "query_id")
      .withColumn("cosine", vec_cosine(col("__dv"), col("__qv")))
    Similarity.rankTopK(cand, k)
  }

  /** Build + search in one call (the [[Similarity.pqTopK]] shape). */
  def sqTopK(
      data: DataFrame, dataId: String, dataVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, rerank: Int = 100): DataFrame =
    searchSq(buildSqIndex(data, dataId, dataVec),
      data, dataId, dataVec, queries, queryId, queryVec, k, rerank)

  // ---- 1-bit binary quantization (sign hashing) -------------------------

  /**
   * Pack the sign bits of a float vector into 32-bit words (stored in
   * longs): bit j of word w is set iff `vec[32w + j] > 0`. 32-bit words —
   * not 64 — so the per-word value stays well inside a signed long and
   * every engine (and the DuckDB oracle) can rebuild it as a plain SUM of
   * distinct powers of two with no sign/overflow edge at bit 63.
   *
   * One-bit codes are the most compressed ANN tier (32x smaller than
   * float32): hamming distance on the codes approximates angular distance
   * (Charikar 2002, SimHash — here applied to the RAW dimensions rather
   * than random projections, i.e. the classic sign-binarization baseline).
   * A pure codegen projection: `zip_with` the dim slice against a literal
   * power table and sum — no shuffle, no fit, no state.
   */
  def binarySignature(vec: Column, dim: Int): Column = {
    require(dim > 0, s"dim must be positive, got $dim")
    val words = (dim + 31) / 32
    val cols = (0 until words).map { w =>
      val len = math.min(32, dim - w * 32)
      val powers = typedLit((0 until len).map(j => 1L << j))
      aggregate(
        zip_with(slice(vec, w * 32 + 1, len), powers,
          (x, p) => when(x.cast("double") > 0.0, p).otherwise(lit(0L))),
        lit(0L), (acc, x) => acc + x)
    }
    array(cols: _*)
  }

  /** Hamming distance between two signatures from [[binarySignature]]:
    * popcount of the per-word XOR, summed — integer-exact everywhere. */
  def binaryHamming(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /**
   * ANN search over 1-bit codes: hamming shortlist (the code table is the
   * only thing scanned — 32x less data than the vectors), then an exact
   * cosine rerank of `rerank` candidates per query against the original
   * vectors. The shortlist is the mergeable bottom-k aggregate over the
   * total order (hamming, neighbor_id) — deterministic, no window over the
   * scored relation, and at 100 TB the code scan is embarrassingly
   * parallel with only k·queries rows ever leaving a partition.
   *
   * Output: (query_id, neighbor_id, hamming, cosine, rank).
   */
  def searchBinary(
      data: DataFrame, dataId: String, dataVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      dim: Int, k: Int, rerank: Int = 100): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val codes = data.select(col(dataId).cast("long").as("neighbor_id"),
      binarySignature(col(dataVec), dim).as("__sig"))
    val qcodes = queries.select(col(queryId).cast("long").as("query_id"),
      binarySignature(col(queryVec), dim).as("__qsig"))
    val scored = codes.join(broadcast(qcodes))
      .withColumn("hamming", binaryHamming(col("__sig"), col("__qsig")))
    val shortlist = scored.groupBy(col("query_id"))
      .agg(graft.functions.bottom_k_by_rank(
        struct(col("hamming"), col("neighbor_id")),
        struct(col("neighbor_id"), col("hamming")), rerank).as("__cand"))
      .select(col("query_id"), explode(col("__cand")).as("__c"))
      .select(col("query_id"), col("__c.neighbor_id").as("neighbor_id"),
        col("__c.hamming").as("hamming"))
    val cand = shortlist
      .join(data.select(col(dataId).cast("long").as("neighbor_id"), col(dataVec).as("__dv")),
        "neighbor_id")
      .join(broadcast(queries.select(col(queryId).cast("long").as("query_id"),
        col(queryVec).as("__qv"))), "query_id")
      .withColumn("cosine", vec_cosine(col("__dv"), col("__qv")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        col("cosine"), col("rank"))
  }

  // ---- hard-example mining (contrastive training pairs) -----------------

  /**
   * For each anchor vector, the hardest positive (same label, highest
   * cosine — the most redundant in-class example) and the hardest negative
   * (different label, highest cosine — the confusable out-of-class
   * example), plus the margin between them. This is the triplet-mining
   * pass of contrastive/metric-learning data prep (Schroff et al. 2015,
   * FaceNet semi-hard mining — here the global-hardest variant).
   *
   * Scale shape: anchors broadcast (mining runs per anchor batch, not per
   * corpus pair); the per-(anchor, class-side) top-1 is ONE mergeable
   * bottom-k aggregate over the total order (-cosine, id) — a single
   * shuffle of k·anchors rows, no window over the corpus-sized score
   * relation. Ties break on the lower neighbor id.
   *
   * Output: (anchor_id, pos_id, pos_cos, neg_id, neg_cos, margin).
   */
  /**
   * Per-dimension embedding health stats: n / mean / min / max for every
   * vector dimension — the dead-dimension / scale-drift audit a vector
   * pipeline runs before indexing (a dimension whose min == max carries
   * no signal; one whose magnitude dwarfs the rest breaks unnormalized
   * distance metrics). Values scale by 2^20 (a POWER OF TWO — the
   * float→double widening and the multiply are both exact) and round to
   * longs, so the per-dim sums are order-independent and the mean is a
   * fixed two-division tree — bit-reproducible. One posexplode + one
   * hash aggregation; output is dims-sized.
   */
  def dimStats(df: DataFrame, vecCol: String): DataFrame = {
    val Scale = 1048576L // 2^20
    df.select(posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .select(col("dim").cast("long").as("dim"), col("__v").cast("double").as("__v"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("__v") * Scale).cast("long")).as("__ssum"),
        min(col("__v")).as("min_v"), max(col("__v")).as("max_v"))
      .select(col("dim"), col("n"),
        (col("__ssum").cast("double") / col("n").cast("double") / Scale.toDouble)
          .as("mean_v"),
        col("min_v"), col("max_v"))
  }

  /**
   * L2-norm histogram of an embedding column: per 0.25-wide norm bucket,
   * the vector count and exact min/max norms — the normalization audit
   * (a cosine index assumes unit-ish norms; a fat tail of tiny or huge
   * norms means the upstream encoder drifted). The norm rides the
   * codegen `vec_dot` kernel (bit-identical to DuckDB's
   * `list_dot_product` on double-cast lists — the q50/q53 precedent) and
   * the bucket is `floor(norm · 4)` (× power of two: exact), so every
   * count is engine-replayable.
   */
  def normHistogram(df: DataFrame, vecCol: String): DataFrame = {
    val norm = sqrt(graft.functions.vec_dot(col(vecCol), col(vecCol)))
    df.select(norm.as("__norm"))
      .groupBy(floor(col("__norm") * 4).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("__norm")).as("min_norm"), max(col("__norm")).as("max_norm"))
  }

  def hardestPairs(
      data: DataFrame, idCol: String, vecCol: String, labelCol: String,
      anchors: DataFrame): DataFrame = {
    val scored = data.select(col(idCol).cast("long").as("neighbor_id"),
        col(labelCol).as("__nl"), col(vecCol).as("__dv"))
      .join(broadcast(anchors.select(col(idCol).cast("long").as("anchor_id"),
        col(labelCol).as("__al"), col(vecCol).as("__qv"))))
      .filter(col("neighbor_id") =!= col("anchor_id"))
      .withColumn("cosine", vec_cosine(col("__dv"), col("__qv")))
      .withColumn("is_pos", col("__nl") === col("__al"))
    val top1 = scored.groupBy(col("anchor_id"), col("is_pos"))
      .agg(graft.functions.bottom_k_by_rank(
        struct(-col("cosine"), col("neighbor_id")),
        struct(col("neighbor_id"), col("cosine")), 1).as("__t"))
      .select(col("anchor_id"), col("is_pos"),
        element_at(col("__t"), 1).as("__b"))
    top1.groupBy(col("anchor_id"))
      .agg(
        min(when(col("is_pos"), col("__b.neighbor_id"))).as("pos_id"),
        min(when(col("is_pos"), col("__b.cosine"))).as("pos_cos"),
        min(when(!col("is_pos"), col("__b.neighbor_id"))).as("neg_id"),
        min(when(!col("is_pos"), col("__b.cosine"))).as("neg_cos"))
      .withColumn("margin", col("pos_cos") - col("neg_cos"))
  }

  // ---- seeded random projection (Johnson-Lindenstrauss) -----------------

  /** splitmix64 finalizer — the deterministic sign source for the
    * projection matrix (public-domain mixing constants, Steele et al. 2014,
    * "Fast Splittable Pseudorandom Number Generators"). */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The ±1 sign matrix row for output dimension j (length `dim`),
    * regenerated identically anywhere from (seed, j). */
  private[graft] def signRow(seed: Long, j: Int, dim: Int): IndexedSeq[Double] =
    (0 until dim).map(i => if ((mix64(seed * 0x100000001b3L + j.toLong * dim + i) & 1L) == 0L) 1.0 else -1.0)

  /**
   * Dense random projection to `outDim` dimensions: out[j] =
   * (sum_i vec[i] * sign(seed, j, i)) / sqrt(outDim) — the ±1 variant of
   * the JL transform (Achlioptas 2003, "Database-friendly random
   * projections"). A pure codegen projection: `outDim` zip_with/aggregate
   * chains over literal sign rows; no fit, no shuffle, no broadcast state.
   * Sums run left-to-right in doubles, so the result is bit-reproducible
   * by any engine that does the same (the q50 oracle discipline).
   */
  def randomProject(
      df: DataFrame, idCol: String, vecCol: String,
      dim: Int, outDim: Int, seed: Long = 42L): DataFrame = {
    require(outDim > 0 && dim > 0, s"dims must be positive, got dim=$dim outDim=$outDim")
    val scale = math.sqrt(outDim.toDouble)
    val comps = (0 until outDim).map { j =>
      val row = typedLit(signRow(seed, j, dim))
      (aggregate(
        zip_with(col(vecCol), row, (x, s) => x.cast("double") * s),
        lit(0.0), (acc, x) => acc + x) / scale).as(s"proj_$j")
    }
    df.select(col(idCol) +: comps: _*)
  }

  // ---- MMR (maximal marginal relevance) diversification -----------------

  /**
   * Re-rank each query's top-`poolSize` neighbors for diversity: greedily
   * pick `k` items maximizing `lambda * cos(query, cand) - (1 - lambda) *
   * max_{s in selected} cos(cand, s)` (Carbonell & Goldstein 1998). Ties
   * break on neighbor id; the first pick is always the plain top-1.
   *
   * The selection is inherently sequential in k, so it runs per-query over
   * the POOL, not the corpus: candidate generation is [[Similarity.bruteTopK]]
   * (swap in any ANN tier upstream), and the in-group loop touches at most
   * poolSize vectors (`flatMapGroups`; groups are poolSize-bounded by
   * construction, so no skew and no driver funnel).
   *
   * Output: (query_id, neighbor_id, relevance, mmr_score, rank) — rank is
   * the 1-based selection order; `mmr_score` of rank 1 is its relevance.
   */
  def mmrRerank(
      data: DataFrame, dataId: String, dataVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, poolSize: Int = 100, lambda: Double = 0.7): DataFrame = {
    require(k <= poolSize, s"k ($k) must be <= poolSize ($poolSize)")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    val spark = data.sparkSession
    import spark.implicits._
    val pool = Similarity.bruteTopK(data, dataId, dataVec, queries, queryId, queryVec, poolSize)
      .join(data.select(col(dataId).cast("long").as("neighbor_id"), col(dataVec).as("__dv")),
        "neighbor_id")
      .select(col("query_id").cast("long"), col("neighbor_id"), col("cosine"), col("__dv"))
      .as[(Long, Long, Double, Seq[Float])]

    val out = pool.groupByKey(_._1).flatMapGroups { (qid, it) =>
      // pool-bounded: at most poolSize rows per group
      val cands = it.toArray.sortBy(c => (-c._3, c._2))
      def cos(a: Seq[Float], b: Seq[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        val n = math.min(a.length, b.length)
        while (i < n) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1 }
        if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
      }
      val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double, Double, Long)]
      val chosen = scala.collection.mutable.ArrayBuffer.empty[Int]
      val maxSim = Array.fill(cands.length)(0.0)
      var r = 1
      while (r <= math.min(k, cands.length)) {
        var best = -1; var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < cands.length) {
          if (!chosen.contains(i)) {
            val score = if (r == 1) cands(i)._3
              else lambda * cands(i)._3 - (1.0 - lambda) * maxSim(i)
            if (score > bestScore ||
                (score == bestScore && (best < 0 || cands(i)._2 < cands(best)._2))) {
              best = i; bestScore = score
            }
          }
          i += 1
        }
        chosen += best
        selected += ((qid, cands(best)._2, cands(best)._3, bestScore, r.toLong))
        var j = 0
        while (j < cands.length) { // update the diversity penalty
          if (!chosen.contains(j)) {
            val s = cos(cands(j)._4, cands(best)._4)
            if (s > maxSim(j)) maxSim(j) = s
          }
          j += 1
        }
        r += 1
      }
      selected.iterator
    }
    out.toDF("query_id", "neighbor_id", "relevance", "mmr_score", "rank")
  }
}
