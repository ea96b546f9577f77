package graft.ext

import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StructField, StructType}
import graft.functions.vec_cosine

/**
 * Approximate-nearest-neighbor search over an `array<float>` embedding
 * column (extension surface; the reference has no vector operators —
 * SURVEY.md §2.2).
 *
 * Two tiers:
 *  - [[bruteTopK]]: exact baseline. The query set is broadcast, so the data
 *    side streams through a broadcast nested-loop join with the codegen'd
 *    cosine in the loop — one full scan, no shuffle of the corpus, then a
 *    per-query top-k. Correct at any corpus size; cost is O(|corpus|·|Q|).
 *  - [[lshTopK]]: scale path. Random-hyperplane signatures bucket the corpus
 *    (one shuffle by band key); each query probes only its matching buckets.
 *    Recall < 1 by construction; raise `bands` / lower `numPlanes` for more
 *    recall, opposite for more pruning.
 */
object Similarity {

  /**
   * Exact top-k cosine neighbors per query row.
   * Output: (query_id, neighbor_id, cosine, rank), rank 1..k, deterministic
   * tie-break on neighbor id.
   */
  def bruteTopK(
      data: DataFrame, dataId: String, dataVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val joined = data.select(col(dataId).as("neighbor_id"), col(dataVec).as("__dv"))
      .join(broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))))
      .withColumn("cosine", vec_cosine(col("__dv"), col("__qv")))
    rankTopK(joined, k)
  }

  /**
   * LSH-bucketed approximate top-k: corpus and queries are signed by the
   * same hyperplanes; candidates = rows sharing any band key with the query.
   */
  def lshTopK(
      data: DataFrame, dataId: String, dataVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, dim: Int,
      numPlanes: Int = 16, bands: Int = 4, seed: Long = 42L): DataFrame = {
    def banded(df: DataFrame, id: String, vec: String, idOut: String, vecOut: String) =
      df.select(col(id).as(idOut), col(vec).as(vecOut),
          posexplode(LshPlanes.bandKeys(col(vec), dim, numPlanes, bands, seed)))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "bk")

    val d = banded(data, dataId, dataVec, "neighbor_id", "__dv").alias("d")
    val q = banded(queries, queryId, queryVec, "query_id", "__qv").alias("q")

    val cand = d.join(q, col("d.band") === col("q.band") && col("d.bk") === col("q.bk"))
      .select(col("query_id"), col("neighbor_id"), col("__dv"), col("__qv"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", vec_cosine(col("__dv"), col("__qv")))
    rankTopK(cand, k)
  }

  /**
   * @param trainFraction fraction of the corpus the coarse quantizer is fit
   *                      on; negative (the default) = auto-cap at
   *                      [[IvfConfig.maxTrainRows]] rows. Every KMeans
   *                      iteration is a full distributed pass over the TRAIN
   *                      set, so an uncapped fraction would mean `maxIter`
   *                      full-corpus passes at 100 TB just to place `nlist`
   *                      centroids — a sample bounds that to constant work.
   */
  final case class IvfConfig(
      nlist: Int = 64,
      nprobe: Int = 8,
      seed: Long = 42L,
      trainFraction: Double = -1.0,
      maxTrainRows: Long = 100000L,
      maxIter: Int = 10)

  /**
   * IVF (inverted-file) approximate top-k: a KMeans coarse quantizer
   * partitions the corpus into `nlist` cells (trained on a sample, assigned
   * in one distributed pass); each query scans only its `nprobe` nearest
   * cells. The classic FAISS-style scale path: per-query work drops from
   * O(|corpus|) to O(|corpus| * nprobe / nlist) while the cell assignment
   * is a one-off, reusable index artifact.
   *
   * Cells are probed by euclidean distance to the centroid (KMeans'
   * metric); final ranking is exact cosine over the probed cells.
   */
  /**
   * Shared coarse-quantizer fit (sample-sized driver cost, k x dim). Auto
   * mode (`trainFraction < 0`) sizes the sample from the corpus row count —
   * count() on a parquet source is satisfied from row-group metadata, far
   * cheaper than even one of the maxIter KMeans passes it prevents.
   * Coarse quantizers don't need converged clusters, they need balanced
   * cells: random init + few iterations skips k-means||'s extra passes
   * (each KMeans iteration is a full distributed pass over the train set).
   */
  private def fitQuantizer(
      data: DataFrame, vecCol: String, k: Int, seed: Long,
      trainFraction: Double, maxTrainRows: Long, maxIter: Int) = {
    val frac =
      if (trainFraction >= 0.0) math.min(trainFraction, 1.0)
      else {
        require(maxTrainRows > 0, "maxTrainRows must be positive")
        val n = data.count()
        if (n <= maxTrainRows) 1.0 else maxTrainRows.toDouble / n
      }
    val trainSrc = if (frac < 1.0)
      data.sample(withReplacement = false, frac, seed) else data
    // KMeansLocal = driver-side Lloyd over the COLLECTED sample (bounded
    // by maxTrainRows at any corpus scale): one collect job instead of
    // one cluster job per training iteration (guide §1.2 — measured at
    // ~90 sample-sized jobs per IVF-PQ build).
    org.apache.spark.ml.graft.KMeansLocal.fit(
      trainSrc.select(array_to_vector(col(vecCol)).as("features")),
      k, seed, maxIter)
  }

  /**
   * A built IVF index: the per-row cell assignment (corpus-sized, columnar)
   * and the tiny centroid table (nlist rows). Both are plain DataFrames so
   * the index is a first-class, persistable artifact — build once, [[save]]
   * it, [[loadIvfIndex]] and [[searchIvf]] many times (the production ANN
   * flow; re-training the quantizer per query batch would waste the fit and
   * the corpus-wide assignment pass).
   */
  final case class IvfIndex(assigned: DataFrame, centroids: DataFrame) {
    /** Persist as two parquet tables under `dir`. */
    def save(dir: String): Unit = {
      assigned.write.mode("overwrite").parquet(s"$dir/assigned.parquet")
      centroids.write.mode("overwrite").parquet(s"$dir/centroids.parquet")
    }
  }

  /** Rehydrate an [[IvfIndex]] written by [[IvfIndex.save]]. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String): IvfIndex =
    IvfIndex(
      assigned = graft.io.ParquetIO.read(spark, s"$dir/assigned.parquet"),
      centroids = graft.io.ParquetIO.read(spark, s"$dir/centroids.parquet"))

  /**
   * Build the IVF index: fit the capped-sample coarse quantizer, assign
   * every corpus row to its cell (one distributed pass), and materialize
   * the nlist centroid table. Centroids stay DOUBLE — KMeans assigned rows
   * in double precision, and ranking cells against float-downcast centroids
   * could order two near-equidistant cells differently than the assignment
   * did, pushing a row's own cell out of the probed set.
   */
  def buildIvfIndex(
      data: DataFrame, dataId: String, dataVec: String,
      cfg: IvfConfig = IvfConfig()): IvfIndex = {
    val spark = data.sparkSession
    val model = fitQuantizer(data, dataVec, cfg.nlist, cfg.seed,
      cfg.trainFraction, cfg.maxTrainRows, cfg.maxIter)
    val assigned = model.transform(
        data.select(col(dataId).as("neighbor_id"), col(dataVec).as("__dv"),
          array_to_vector(col(dataVec)).as("features")))
      .select(col("neighbor_id"), col("__dv"), col("prediction").as("cell"))
    val centroidRows = model.clusterCenters.zipWithIndex.map { case (c, i) =>
      Row(i, c.toArray.toSeq)
    }
    val centroids = spark.createDataFrame(
      spark.sparkContext.parallelize(centroidRows.toSeq, 1),
      StructType(Seq(StructField("cell", IntegerType, nullable = false),
        StructField("__cv", ArrayType(DoubleType, containsNull = false), nullable = false))))
    IvfIndex(assigned, centroids)
  }

  /**
   * Probe an [[IvfIndex]]: rank cells per query by euclidean distance to
   * the centroid (KMeans' metric; interpreted HOF distance is fine here —
   * |queries| x nlist rows only), scan the nprobe nearest cells, exact
   * cosine, top-k.
   */
  /** Per-query nprobe nearest cells by euclidean centroid distance:
    * (query_id, __qv, cell). |Q| x nlist rows only. */
  private def probeCells(
      centroids: DataFrame,
      queries: DataFrame, queryId: String, queryVec: String,
      nprobe: Int): DataFrame = {
    val probeW = Window.partitionBy(col("query_id")).orderBy(col("__cd").asc, col("cell").asc)
    val qvDouble = col("__qv").cast("array<double>")
    queries.select(col(queryId).as("query_id"), col(queryVec).as("__qv"))
      .join(broadcast(centroids))
      .withColumn("__cd", aggregate(
        zip_with(qvDouble, col("__cv"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, d) => acc + d))
      .withColumn("__pr", row_number().over(probeW))
      .filter(col("__pr") <= nprobe)
      .select(col("query_id"), col("__qv"), col("cell"))
  }

  def searchIvf(
      index: IvfIndex,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, nprobe: Int): DataFrame = {
    val probes = probeCells(index.centroids, queries, queryId, queryVec, nprobe)
    val cand = index.assigned.join(probes, "cell")
      .withColumn("cosine", vec_cosine(col("__dv"), col("__qv")))
    rankTopK(cand, k)
  }

  def ivfTopK(
      data: DataFrame, dataId: String, dataVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, cfg: IvfConfig = IvfConfig()): DataFrame =
    searchIvf(buildIvfIndex(data, dataId, dataVec, cfg),
      queries, queryId, queryVec, k, cfg.nprobe)

  /** @param nlist cluster count — pairwise work is O(Σ cell² ) ≈ n²/nlist,
    *               so size it ~ n / targetCellSize. */
  final case class SemDedupConfig(
      nlist: Int = 64,
      threshold: Double = 0.9,
      seed: Long = 42L,
      trainFraction: Double = -1.0,
      maxTrainRows: Long = 100000L,
      maxIter: Int = 10)

  /**
   * SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
   * cluster the embedding space with a sampled KMeans coarse quantizer,
   * then drop near-duplicates WITHIN each cluster — a row is dropped when a
   * lower-id row in the same cell has cosine >= threshold with it, so each
   * duplicate group keeps its minimum-id representative.
   *
   * Scale shape: the cluster assignment is the same constant-cost
   * fit + one-pass transform as [[ivfTopK]]; the candidate generator is a
   * per-cell self-join — the O(n²) global problem becomes O(Σ cell²),
   * bounded by making `nlist` proportional to corpus size (the paper's
   * design). The join carries (id, vec) with the codegen cosine evaluated
   * inline, so no pair survives to a shuffle unless it crossed the
   * threshold. Cross-cluster near-dups are missed by construction — the
   * recall/cost trade the paper accepts.
   *
   * Output: one row per input row — (id, cell, kept); deterministic for a
   * fixed seed.
   */
  def semDedup(
      data: DataFrame, idCol: String, vecCol: String,
      cfg: SemDedupConfig = SemDedupConfig()): DataFrame = {
    val model = fitQuantizer(data, vecCol, cfg.nlist, cfg.seed,
      cfg.trainFraction, cfg.maxTrainRows, cfg.maxIter)
    // the assignment feeds THREE consumers (both self-join sides + the
    // kept-flag join) — localCheckpoint materializes it once (same pattern
    // as duplicateClusters); unlike persist(), the blocks are freed by the
    // ContextCleaner when the result is garbage collected, so repeated
    // invocations in one session don't accumulate CacheManager entries
    val assigned = model.transform(
        data.select(col(idCol).as("__sd_id"), col(vecCol).as("__sd_v"),
          array_to_vector(col(vecCol)).as("features")))
      .select(col("__sd_id"), col("__sd_v"), col("prediction").as("cell"))
      .localCheckpoint()

    val a = assigned.select(col("__sd_id").as("__id_a"), col("__sd_v").as("__va"), col("cell"))
    val b = assigned.select(col("__sd_id").as("__id_b"), col("__sd_v").as("__vb"), col("cell"))
    val dropped = a.join(b,
        a("cell") === b("cell") && col("__id_a") < col("__id_b") &&
          vec_cosine(col("__va"), col("__vb")) >= cfg.threshold)
      .select(col("__id_b").as("__sd_id")).distinct()

    assigned.join(dropped.withColumn("__dropped", lit(true)), Seq("__sd_id"), "left")
      .select(col("__sd_id").as(idCol), col("cell").cast("long").as("cell"),
        col("__dropped").isNull.as("kept"))
  }

  /**
   * Product-quantization configuration.
   *
   * @param m    number of subspaces (vector dim must divide evenly); the
   *             code is m bytes per vector — a 64-dim float vector (256 B)
   *             at m=8 compresses 32x
   * @param ksub centroids per subspace, <= 256 so a code fits one byte
   */
  final case class PqConfig(
      m: Int = 8,
      ksub: Int = 32,
      seed: Long = 42L,
      trainFraction: Double = -1.0,
      maxTrainRows: Long = 100000L,
      maxIter: Int = 10)

  /** Per-subspace codebook: `centroids(j)(c)` is the c-th centroid of
    * subspace j (length dim/m). Driver-small: m * ksub * dsub doubles.
    * Subspace centroid COUNTS may differ (KMeans can return fewer than k
    * centers on degenerate subspaces, e.g. constant dims), so ADC lookup
    * tables are ragged per subspace — never sized off subspace 0. */
  final case class PqCodebook(m: Int, dsub: Int, centroids: Array[Array[Array[Double]]])
    extends Serializable {

    /** Ragged ADC lookup table for one (normalized) query vector:
      * `lut(j)(c)` = exact squared L2 distance from the query's j-th
      * subvector to centroid c of subspace j. */
    def adcLut(qv: Seq[Float]): Array[Array[Double]] = {
      val lut = new Array[Array[Double]](m)
      var j = 0
      while (j < m) {
        val cents = centroids(j)
        val row = new Array[Double](cents.length)
        var c = 0
        while (c < cents.length) {
          val cent = cents(c)
          var d = 0.0; var p = 0
          while (p < dsub) {
            val diff = qv(j * dsub + p) - cent(p)
            d += diff * diff
            p += 1
          }
          row(c) = d
          c += 1
        }
        lut(j) = row
        j += 1
      }
      lut
    }

    /** Approximate distance of an encoded row: m ragged-table lookups.
      * Codes were produced by argmin over the SAME centroids, so
      * `code(j) < lut(j).length` always holds. */
    def adcDistance(lut: Array[Array[Double]], code: Array[Byte]): Double = {
      var d = 0.0; var j = 0
      while (j < m) {
        d += lut(j)(code(j) & 0xff)
        j += 1
      }
      d
    }
  }

  /**
   * A built PQ index: the corpus compressed to m-byte codes plus the tiny
   * codebook — the FAISS-style memory math that makes 100 TB of embeddings
   * searchable: 100 TB of 64-dim floats becomes ~3 TB of codes, which DOES
   * fit a cluster's RAM. Persistable like [[IvfIndex]]: build once, save,
   * search many times.
   */
  final case class PqIndex(codes: DataFrame, codebook: PqCodebook) {
    def save(dir: String): Unit = {
      codes.write.mode("overwrite").parquet(s"$dir/codes.parquet")
      val spark = codes.sparkSession
      val rows = for {
        j <- codebook.centroids.indices
        c <- codebook.centroids(j).indices
      } yield Row(j, c, codebook.centroids(j)(c).toSeq)
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        StructType(Seq(
          StructField("subspace", IntegerType, nullable = false),
          StructField("code", IntegerType, nullable = false),
          StructField("centroid", ArrayType(DoubleType, containsNull = false), nullable = false))))
        .write.mode("overwrite").parquet(s"$dir/codebook.parquet")
    }
  }

  /** Rehydrate a [[PqIndex]] written by [[PqIndex.save]]. */
  def loadPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String): PqIndex = {
    val cb = graft.io.ParquetIO.read(spark, s"$dir/codebook.parquet")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val m = cb.map(_._1).max + 1
    val byS = cb.groupBy(_._1).map { case (j, rows) =>
      j -> rows.sortBy(_._2).map(_._3)
    }
    val centroids = (0 until m).map(byS(_)).toArray
    PqIndex(graft.io.ParquetIO.read(spark, s"$dir/codes.parquet"),
      PqCodebook(m, centroids(0)(0).length, centroids))
  }

  /** L2-normalized copy of an `array<float>` column (zero vectors pass
    * through unscaled). On the unit sphere L2² = 2 - 2·cos, so euclidean
    * machinery (KMeans cells, PQ codebooks) ranks by cosine — for COSINE
    * retrieval, build IVF/PQ indexes over normalized vectors (cosine
    * itself is scale-invariant, so final scores are unaffected). */
  def l2normalized(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    l2normalize(v)

  private def l2normalize(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val n = sqrt(aggregate(v, lit(0.0d), (acc, x) => acc + x * x))
    transform(v, x => (x / when(n === 0.0, 1.0).otherwise(n)).cast("float"))
  }

  /**
   * Build a PQ index (Jégou, Douze, Schmid: "Product Quantization for
   * Nearest Neighbor Search", TPAMI 2011): vectors are L2-normalized,
   * split into m subvectors, and each subspace is vector-quantized with
   * its own ksub-centroid KMeans — a vector becomes m byte codes.
   *
   * Scale shape mirrors [[buildIvfIndex]]: the m KMeans fits all run over
   * ONE bounded sample (auto-capped at maxTrainRows, localCheckpointed so
   * the corpus is sampled once, not m times); encoding is a single
   * distributed pass with the codebook broadcast, argmin in plain JVM
   * loops inside `mapPartitions` (per-element imperative math over every
   * corpus row — the documented case where mapPartitions beats expression
   * trees).
   */
  def buildPqIndex(
      data: DataFrame, dataId: String, dataVec: String,
      cfg: PqConfig = PqConfig()): PqIndex = {
    require(cfg.m > 0 && cfg.ksub > 1 && cfg.ksub <= 256,
      s"need m > 0 and 1 < ksub <= 256, got m=${cfg.m} ksub=${cfg.ksub}")
    val spark = data.sparkSession
    import spark.implicits._

    val dim = data.select(size(col(dataVec))).head().getInt(0)
    require(dim % cfg.m == 0, s"vector dim $dim must be divisible by m=${cfg.m}")
    val dsub = dim / cfg.m

    val frac =
      if (cfg.trainFraction >= 0.0) math.min(cfg.trainFraction, 1.0)
      else {
        val n = data.count()
        if (n <= cfg.maxTrainRows) 1.0 else cfg.maxTrainRows.toDouble / n
      }
    val base = data.select(l2normalize(col(dataVec)).as("__nv"))
    // ONE collect of the capped sample; the m subspace fits slice the
    // in-memory matrix and run driver-local Lloyd loops (KMeansLocal's
    // rationale: the sample is maxTrainRows-bounded at any corpus scale,
    // and m distributed sub-fits were m x iterations sample-sized jobs)
    val trainRows: Array[Array[Float]] =
      (if (frac < 1.0) base.sample(withReplacement = false, frac, cfg.seed) else base)
        .collect().map(_.getSeq[Float](0).toArray)
    val centroids: Array[Array[Array[Double]]] =
      Array.tabulate(cfg.m) { j =>
        val pts = trainRows.map { v =>
          val a = new Array[Double](dsub)
          var p = 0
          while (p < dsub) { a(p) = v(j * dsub + p); p += 1 }
          a
        }
        org.apache.spark.ml.graft.KMeansLocal.run(pts, cfg.ksub, cfg.seed + j, cfg.maxIter)
      }
    val codebook = PqCodebook(cfg.m, dsub, centroids)
    PqIndex(encodeCodes(codebook, data, dataId, dataVec), codebook)
  }

  /** Encode rows with an EXISTING codebook (one distributed pass, codebook
    * broadcast, argmin in plain JVM loops) — shared by [[buildPqIndex]]
    * and [[ingestIvfPq]]. */
  private def encodeCodes(codebook: PqCodebook,
      data: DataFrame, dataId: String, dataVec: String): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(codebook)
    data
      .select(col(dataId).cast("long").as("neighbor_id"), l2normalize(col(dataVec)).as("__nv"))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val cb = bc.value
        it.map { case (id, v) =>
          val code = new Array[Byte](cb.m)
          var j = 0
          while (j < cb.m) {
            val cents = cb.centroids(j)
            var best = 0; var bestD = Double.MaxValue; var c = 0
            while (c < cents.length) {
              val cent = cents(c)
              var d = 0.0; var p = 0
              while (p < cb.dsub) {
                val diff = v(j * cb.dsub + p) - cent(p)
                d += diff * diff
                p += 1
              }
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            code(j) = best.toByte
            j += 1
          }
          (id, code)
        }
      }.toDF("neighbor_id", "pq_code")
  }

  /**
   * Incremental ingest for the composed IVF-PQ tier — the FAISS `add`
   * discipline: new vectors assign to their nearest EXISTING coarse
   * centroid (the same argmin the original assignment used) and encode
   * with the EXISTING codebook; quantizers are trained artifacts and do
   * not move. The returned pair shares the original quantizers, so a
   * persisted index extends with two appended relations instead of a
   * corpus re-index; a drifted corpus retrains via [[buildIvfPq]] (the
   * documented rebuild path). Ids already indexed refuse loudly — they
   * would silently duplicate rows through the rerank join.
   */
  def ingestIvfPq(ivf: IvfIndex, pq: PqIndex, newData: DataFrame,
      dataId: String, dataVec: String): (IvfIndex, PqIndex) = {
    val dup = pq.codes.select(col("neighbor_id"))
      .join(newData.select(col(dataId).cast("long").as("neighbor_id")),
        Seq("neighbor_id"), "left_semi")
      .limit(1).collect()
    require(dup.isEmpty,
      s"ingestIvfPq: id ${dup.headOption.map(_.getLong(0)).getOrElse(-1L)} is " +
        "already indexed — IVF-PQ ingest is append-only; rebuild to re-point ids")
    val assignedNew = probeCells(ivf.centroids, newData, dataId, dataVec, nprobe = 1)
      .select(col("query_id").as("neighbor_id"), col("__qv").as("__dv"), col("cell"))
    (IvfIndex(ivf.assigned.unionByName(assignedNew), ivf.centroids),
      PqIndex(pq.codes.unionByName(encodeCodes(pq.codebook, newData, dataId, dataVec)),
        pq.codebook))
  }

  /** Upper bound on query rows PQ/IVF-PQ serving funnels to the driver.
    * The ADC design broadcasts the query set (each query builds an
    * m × ksub LUT executor-side), which is right for top-k SERVING with a
    * bounded query batch and wrong for corpus-sized query sides — those
    * belong on the join-based [[bruteTopK]]/[[lshTopK]] paths. 65536
    * queries × 768 float dims ≈ 200 MB of driver/broadcast footprint. */
  val MaxPqQueryRows: Int = 65536

  /** `limit(max+1)` bounds the collect itself (CollectLimitExec), so the
    * overflow CHECK cannot OOM the driver on a corpus-sized query side —
    * it fetches at most one row past the cap, then fails loudly. */
  private def collectBoundedQueries(
      q: DataFrame, maxQueryRows: Int, op: String): Array[(Long, Seq[Float])] = {
    require(maxQueryRows > 0, s"maxQueryRows must be positive, got $maxQueryRows")
    val spark = q.sparkSession
    import spark.implicits._
    val rows = q.limit(maxQueryRows + 1).as[(Long, Seq[Float])].collect()
    require(rows.length <= maxQueryRows,
      s"$op funnels the query set to the driver for the ADC LUT broadcast; " +
        s"got more than maxQueryRows=$maxQueryRows query rows. Batch the " +
        "query side, raise maxQueryRows only with matching driver memory, " +
        "or use the join-based bruteTopK/lshTopK paths for corpus-sized " +
        "query sides")
    rows
  }

  /**
   * Search a [[PqIndex]] with asymmetric distance (ADC): each query builds
   * an m x ksub lookup table of exact subvector-to-centroid distances, and
   * a corpus row's approximate distance is m table lookups summed — no
   * decompression, the scan touches only the m-byte codes. The ADC top
   * `rerank` candidates are then re-scored with EXACT cosine against the
   * original vectors (the standard recall-restoring refinement; the join
   * touches only `|Q| * rerank` ids).
   *
   * The per-query top-k over ADC scores runs as [[graft.functions.bottom_k_by_rank]]
   * partial aggregates — each partition ships at most rerank candidates
   * per query, never the full scored scan.
   */
  def searchPq(
      index: PqIndex,
      data: DataFrame, dataId: String, dataVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, rerank: Int = 100,
      maxQueryRows: Int = Similarity.MaxPqQueryRows): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val spark = index.codes.sparkSession
    import spark.implicits._

    val bcCb = spark.sparkContext.broadcast(index.codebook)
    val qRows = collectBoundedQueries(
      queries.select(col(queryId).cast("long").as("query_id"),
        l2normalize(col(queryVec)).as("__qv")), maxQueryRows, "searchPq")
    require(qRows.nonEmpty, "empty query set")
    val bcQ = spark.sparkContext.broadcast(qRows)

    val adc = index.codes.as[(Long, Array[Byte])].mapPartitions { it =>
      val cb = bcCb.value
      // one ragged LUT per query per partition (see PqCodebook.adcLut)
      val luts = bcQ.value.map { case (qid, qv) => (qid, cb.adcLut(qv)) }
      it.flatMap { case (nid, code) =>
        luts.iterator.map { case (qid, lut) => (qid, nid, cb.adcDistance(lut, code)) }
      }
    }.toDF("query_id", "neighbor_id", "adist")

    val shortlist = adc.groupBy(col("query_id"))
      .agg(graft.functions.bottom_k_by_rank(
        struct(col("adist"), col("neighbor_id")), col("neighbor_id"), rerank).as("__cand"))
      .select(col("query_id"), explode(col("__cand")).as("neighbor_id"))

    val cand = shortlist
      .join(data.select(col(dataId).cast("long").as("neighbor_id"), col(dataVec).as("__dv")),
        "neighbor_id")
      .join(broadcast(queries.select(col(queryId).cast("long").as("query_id"),
        col(queryVec).as("__qv"))), "query_id")
      .withColumn("cosine", vec_cosine(col("__dv"), col("__qv")))
    rankTopK(cand, k)
  }

  /**
   * Build the IVF and PQ artifacts CONCURRENTLY — the two builds are
   * independent (separate fits, separate corpus passes), so running them
   * as parallel driver-thread job groups makes the combined build cost
   * ~max(ivf, pq) instead of their sum. For cosine retrieval pass data
   * whose vector column is already [[l2normalized]] (PQ normalizes
   * internally either way; IVF cells must match the query-probe metric).
   */
  def buildIvfPq(
      data: DataFrame, dataId: String, dataVec: String,
      ivfCfg: IvfConfig = IvfConfig(),
      pqCfg: PqConfig = PqConfig()): (IvfIndex, PqIndex) = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val fIvf = scala.concurrent.Future(buildIvfIndex(data, dataId, dataVec, ivfCfg))
      val fPq = scala.concurrent.Future(buildPqIndex(data, dataId, dataVec, pqCfg))
      val ivf = scala.concurrent.Await.result(fIvf, scala.concurrent.duration.Duration.Inf)
      val pq = scala.concurrent.Await.result(fPq, scala.concurrent.duration.Duration.Inf)
      (ivf, pq)
    } finally pool.shutdown()
  }

  /**
   * IVF-PQ search — the composed FAISS-canonical 100 TB architecture:
   * the coarse quantizer routes each query to `nprobe` cells, ONLY those
   * cells' m-byte codes are ADC-scored (per-query scan work =
   * |corpus| * nprobe / nlist rows of m bytes each, no full vectors
   * touched), and the shortlist alone is re-ranked with exact cosine
   * against the original vectors. The two index artifacts are built,
   * persisted, and loaded independently ([[buildIvfIndex]] /
   * [[buildPqIndex]]) and join on the row id.
   */
  def searchIvfPq(
      ivf: IvfIndex, pq: PqIndex,
      data: DataFrame, dataId: String, dataVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, nprobe: Int, rerank: Int = 100,
      maxQueryRows: Int = Similarity.MaxPqQueryRows,
      allowed: Option[DataFrame] = None,
      deleted: Option[DataFrame] = None): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val spark = pq.codes.sparkSession
    import spark.implicits._

    val probes = probeCells(ivf.centroids, queries, queryId, queryVec, nprobe)
      .select(col("query_id"), col("cell"))
    // FILTERED search (the q158 searchSq recipe, on the 100 TB default
    // tier): the allow-set SEMI-JOINS the cell assignment before any code
    // is ADC-scored, so the shortlist draws entirely from rows passing the
    // predicate — index-level filtering with no post-filter recall cliff,
    // and unlike the HNSW broadcast allow-set this is a distributed join:
    // the predicate relation can be arbitrarily large. A serve-time
    // DELETE LIST anti-joins the same assignment (soft-delete parity with
    // hnswQuery: tombstoned ids never reach ADC; the list resets at the
    // next rebuild) — also a distributed join, so the tombstone relation
    // can be corpus-sized.
    val assigned0 = allowed match {
      case None => ivf.assigned.select(col("neighbor_id"), col("cell"))
      case Some(a) => ivf.assigned.select(col("neighbor_id"), col("cell"))
        .join(a.select(col(a.columns.head).cast("long").as("neighbor_id")),
          Seq("neighbor_id"), "left_semi")
    }
    val assigned = deleted match {
      case None => assigned0
      case Some(d) => assigned0
        .join(d.select(col(d.columns.head).cast("long").as("neighbor_id")),
          Seq("neighbor_id"), "left_anti")
    }
    // slim assignment: (neighbor_id, cell) only — the whole point of PQ is
    // that full vectors are NOT carried into the scan
    val cand = assigned
      .join(probes, "cell")
      .join(pq.codes, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("pq_code"))

    val bcCb = spark.sparkContext.broadcast(pq.codebook)
    val qRows = collectBoundedQueries(
      queries.select(col(queryId).cast("long").as("query_id"),
        l2normalize(col(queryVec)).as("__qv")), maxQueryRows, "searchIvfPq")
    require(qRows.nonEmpty, "empty query set")
    val bcQ = spark.sparkContext.broadcast(qRows.toMap)

    val adc = cand.as[(Long, Long, Array[Byte])].mapPartitions { it =>
      val cb = bcCb.value
      // LUTs built lazily per qid (rows arrive keyed, not query-batched)
      val luts = scala.collection.mutable.HashMap.empty[Long, Array[Array[Double]]]
      it.map { case (qid, nid, code) =>
        val lut = luts.getOrElseUpdate(qid, cb.adcLut(bcQ.value(qid)))
        (qid, nid, cb.adcDistance(lut, code))
      }
    }.toDF("query_id", "neighbor_id", "adist")

    val shortlist = adc.groupBy(col("query_id"))
      .agg(graft.functions.bottom_k_by_rank(
        struct(col("adist"), col("neighbor_id")), col("neighbor_id"), rerank).as("__cand"))
      .select(col("query_id"), explode(col("__cand")).as("neighbor_id"))

    val scored = shortlist
      .join(data.select(col(dataId).cast("long").as("neighbor_id"), col(dataVec).as("__dv")),
        "neighbor_id")
      .join(broadcast(queries.select(col(queryId).cast("long").as("query_id"),
        col(queryVec).as("__qv"))), "query_id")
      .withColumn("cosine", vec_cosine(col("__dv"), col("__qv")))
    rankTopK(scored, k)
  }

  /** Build + search in one call (gate/bench convenience). */
  def pqTopK(
      data: DataFrame, dataId: String, dataVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, cfg: PqConfig = PqConfig(), rerank: Int = 100): DataFrame =
    searchPq(buildPqIndex(data, dataId, dataVec, cfg),
      data, dataId, dataVec, queries, queryId, queryVec, k, rerank)

  private[ext] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /**
   * Reciprocal-rank fusion (Cormack et al., SIGIR'09) — the standard way
   * hybrid retrieval combines a lexical ranking and a vector ranking
   * without score calibration: each candidate's fused score is
   * `1/(kRrf + lexRank) + 1/(kRrf + vecRank)`.
   *
   * Input: one row per (query_id, neighbor_id) carrying BOTH raw scores
   * (higher = better). Ranks are per-query `row_number` with deterministic
   * id tie-breaks, and the fused score is a fixed two-term IEEE sum, so
   * the output is engine-reproducible bit-for-bit. Windows partition by
   * query — per-query candidate sets are bounded by construction, so this
   * is scale-safe (never a global sort).
   */
  def rrfFuse(
      scored: DataFrame, lexCol: String, vecCol: String,
      k: Int = 10, kRrf: Int = 60): DataFrame = {
    require(k > 0 && kRrf > 0, s"k and kRrf must be positive, got ($k, $kRrf)")
    val wLex = Window.partitionBy(col("query_id"))
      .orderBy(col(lexCol).desc, col("neighbor_id").asc)
    val wVec = Window.partitionBy(col("query_id"))
      .orderBy(col(vecCol).desc, col("neighbor_id").asc)
    val ranked = scored
      .withColumn("r_lex", row_number().over(wLex).cast("long"))
      .withColumn("r_vec", row_number().over(wVec).cast("long"))
      .withColumn("rrf",
        lit(1.0) / (lit(kRrf) + col("r_lex")) + lit(1.0) / (lit(kRrf) + col("r_vec")))
    val wFused = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("neighbor_id").asc)
    ranked
      .withColumn("rank", row_number().over(wFused).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("r_lex"), col("r_vec"),
        col("rrf"), col("rank"))
  }

  /**
   * Retrieval evaluation: per-query recall@k and MRR of a candidate
   * ranking against a ground-truth ranking — the harness that turns the
   * ANN tiers' "subset-of-brute" spot checks into a continuously
   * computable quality metric (run LSH/IVF/PQ against [[bruteTopK]] on a
   * sampled query set and track recall as the index ages). Both inputs
   * are (queryCol, neighborCol, rankCol) relations, e.g. any of this
   * module's search outputs; rows with rank > k are ignored.
   *
   * Every number is a rational of small integers (one division), so a SQL
   * oracle replays it bit-for-bit whenever the candidate ranking itself
   * is SQL-expressible (the gate evaluates an un-normalized dot-product
   * ranking against the cosine truth; LSH/IVF evaluation rides the
   * specs). MRR counts the first candidate that appears anywhere in the
   * truth top-k (0.0 when none do).
   *
   * One equi-join on (query, neighbor) + one agg — both relations are
   * |queries| x k, never corpus-sized.
   */
  def rankingMetrics(
      truth: DataFrame, candidate: DataFrame,
      queryCol: String, neighborCol: String, rankCol: String,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val t = truth.filter(col(rankCol) <= k)
      .select(col(queryCol).as("query_id"), col(neighborCol).as("__tn"))
    val p = candidate.filter(col(rankCol) <= k)
      .select(col(queryCol).as("query_id"), col(neighborCol).as("__pn"),
        col(rankCol).cast("long").as("__pr"))
    val truthSizes = t.groupBy(col("query_id")).agg(count(lit(1)).as("n_truth"))
    val hits = p.join(t,
        p("query_id") === t("query_id") && p("__pn") === t("__tn"), "left")
      .select(p("query_id"), col("__pr"), t("__tn").isNotNull.as("__hit"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("__hit"), 1L).otherwise(0L)).as("n_hits"),
        min(when(col("__hit"), col("__pr"))).as("__first_hit"))
    truthSizes.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("n_truth"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("n_truth").cast("double")).as("recall_at_k"),
        coalesce(lit(1.0) / col("__first_hit").cast("double"), lit(0.0))
          .as("mrr"))
  }

  /** Pinned integer rank-discount table for [[ndcgAtK]]:
    * `round(1e9 / log2(rank+1))` for ranks 1..10. Pinning the quantized
    * weights (instead of calling log at runtime) makes scaled DCG an EXACT
    * integer dot product — no libm in the engine OR the oracle, so the
    * metric is bit-reproducible across engines. A spec re-derives the
    * table from StrictMath against these constants. */
  val NdcgWeights: Array[Long] = Array(
    1000000000L, 630929754L, 500000000L, 430676558L, 386852807L,
    356207187L, 333333333L, 315464877L, 301029996L, 289064826L)

  /**
   * Graded-relevance nDCG@k of a candidate ranking against a relevance-
   * labelled truth set (Järvelin & Kekäläinen, TOIS'02). DCG uses the
   * standard `gain / log2(rank+1)` discount with the discount quantized
   * to the pinned integer table [[NdcgWeights]] (relative quantization
   * error < 1e-9 — invisible for ranking-quality tracking, decisive for
   * oracle exactness): `dcg_scaled = sum(rel * W(rank))` over candidate
   * hits, `idcg_scaled` the same sum over the truth's own ranking, and
   * `ndcg` their one IEEE division (0.0 when idcg is 0).
   *
   * Same scale shape as [[rankingMetrics]]: one equi-join on
   * (query, neighbor) + per-query aggs over |queries| x k relations.
   */
  def ndcgAtK(
      truth: DataFrame, candidate: DataFrame,
      queryCol: String, neighborCol: String, rankCol: String, relCol: String,
      k: Int): DataFrame = {
    require(k > 0 && k <= NdcgWeights.length,
      s"k must be in [1, ${NdcgWeights.length}], got $k")
    val w = typedLit(NdcgWeights.toSeq)
    val t = truth.filter(col(rankCol) <= k)
      .select(col(queryCol).as("query_id"), col(neighborCol).as("__tn"),
        col(relCol).cast("long").as("__rel"),
        element_at(w, col(rankCol).cast("int")).as("__tw"))
    val p = candidate.filter(col(rankCol) <= k)
      .select(col(queryCol).as("query_id"), col(neighborCol).as("__pn"),
        element_at(w, col(rankCol).cast("int")).as("__pw"))
    val idcg = t.groupBy(col("query_id"))
      .agg(sum(col("__rel") * col("__tw")).as("idcg_scaled"))
    val tp = t.select(col("query_id").as("__tq"), col("__tn"), col("__rel"))
    val dcg = p.join(tp,
        p("query_id") === col("__tq") && p("__pn") === col("__tn"), "inner")
      .select(p("query_id"), (col("__rel") * col("__pw")).as("__g"))
      .groupBy(col("query_id"))
      .agg(sum(col("__g")).as("dcg_scaled"))
    idcg.join(dcg, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("dcg_scaled"), lit(0L)).as("dcg_scaled"),
        col("idcg_scaled"),
        when(col("idcg_scaled") === 0L, lit(0.0))
          .otherwise(coalesce(col("dcg_scaled"), lit(0L)).cast("double") /
            col("idcg_scaled").cast("double")).as("ndcg"))
  }
}
