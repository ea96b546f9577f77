package org.apache.spark.ml.graft

import org.apache.spark.ml.clustering.KMeansModel
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.mllib.clustering.{KMeansModel => MLlibKMeansModel}
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.sql.DataFrame

/**
 * DRIVER-LOCAL Lloyd's KMeans for quantizer fits (guide §1.2: fix the
 * distributed algorithm before tuning it). The IVF/PQ quantizer fits train
 * on a sample CAPPED by config (`maxTrainRows`, default 100k rows — a few
 * tens of MB at embedding dims) — driver-sized at ANY corpus scale, 100 TB
 * included: the corpus-wide passes (cell assignment, PQ encode) stay
 * distributed, only the bounded TRAINING LOOP moves onto the driver.
 * The distributed `mllib.KMeans` loop costs one cluster-wide job per
 * iteration (plus init sampling jobs); at ~10 iterations x 9 fits per
 * IVF-PQ build that is ~90 scheduled jobs whose wall is pure per-job
 * overhead when the train set is sample-sized. Measured (JobProfile,
 * sf0.1): q307 spent 8.4s of its 12s wall in those jobs.
 *
 * Semantics: same shape as mllib's random-init Lloyd — k distinct-index
 * random seeds drawn with the given seed, ties broken toward the lower
 * center index, an empty cluster keeps its previous center, convergence
 * when every center moves less than `Tol` (squared euclidean), all
 * weights 1. Centroids are NOT bit-identical to the distributed loop
 * (summation order differs) — every caller exports order-robust recall
 * CONTRACTS, not raw centroids (q133's discipline), and the equivalence
 * is pinned by the oracle gates staying green across SFs.
 *
 * Determinism: the collected sample order is the scan's partition order
 * (stable for a fixed input), block-partial sums merge in fixed block
 * order, and the RNG is seeded — repeated fits on the same data produce
 * identical centroids.
 */
object KMeansLocal {

  private val Tol = 1e-4

  /** Fit on the collected rows of `df`'s `features` vector column. */
  def fit(df: DataFrame, k: Int, seed: Long, maxIter: Int): KMeansModel = {
    val points: Array[Array[Double]] = df.select("features").collect()
      .map(_.getAs[Vector](0).toArray)
    val centers = run(points, k, seed, maxIter)
    new KMeansModel("kmeans_local",
      new MLlibKMeansModel(centers.map(OldVectors.dense)))
  }

  /** Lloyd's loop over an in-memory matrix; exposed for fits that already
    * hold the sample (the PQ subspace fits slice ONE collected sample m
    * ways instead of running m distributed sub-fits). */
  def run(points: Array[Array[Double]], k: Int, seed: Long,
      maxIter: Int): Array[Array[Double]] = {
    val n = points.length
    require(n > 0, "KMeansLocal: empty training set")
    val dim = points(0).length
    // random init: k sample rows without replacement (n < k keeps n)
    val rnd = new scala.util.Random(seed)
    val idx = rnd.shuffle((0 until n).toVector).take(math.min(k, n))
    val centers = idx.map(points(_).clone).toArray
    val kk = centers.length
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val (sums, counts) = assignAndSum(points, centers)
      converged = true
      var c = 0
      while (c < kk) {
        if (counts(c) > 0L) {
          val nc = new Array[Double](dim)
          var d = 0
          while (d < dim) { nc(d) = sums(c)(d) / counts(c); d += 1 }
          var moved = 0.0
          d = 0
          while (d < dim) {
            val diff = nc(d) - centers(c)(d); moved += diff * diff; d += 1
          }
          if (moved > Tol * Tol) converged = false
          centers(c) = nc
        } // empty cluster keeps its previous center (the mllib discipline)
        c += 1
      }
      iter += 1
    }
    centers
  }

  /** One assignment pass: per-center (sum vector, count). Parallel over
    * fixed index blocks, partials merged in block order — deterministic. */
  private def assignAndSum(points: Array[Array[Double]],
      centers: Array[Array[Double]]): (Array[Array[Double]], Array[Long]) = {
    val n = points.length
    val kk = centers.length
    val dim = points(0).length
    val nBlocks = math.min(16, math.max(1, n / 4096))
    def block(b: Int): (Array[Array[Double]], Array[Long]) = {
      val lo = (n.toLong * b / nBlocks).toInt
      val hi = (n.toLong * (b + 1) / nBlocks).toInt
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Long](kk)
      var i = lo
      while (i < hi) {
        val p = points(i)
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < kk) {
          val cent = centers(c)
          var dd = 0.0
          var d = 0
          while (d < dim) { val x = p(d) - cent(d); dd += x * x; d += 1 }
          if (dd < bestD) { bestD = dd; best = c } // ties keep the lower index
          c += 1
        }
        val s = sums(best)
        var d = 0
        while (d < dim) { s(d) += p(d); d += 1 }
        counts(best) += 1L
        i += 1
      }
      (sums, counts)
    }
    val partials =
      if (nBlocks == 1) Array(block(0))
      else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = ExecutionContext.global
        Await.result(
          Future.sequence((0 until nBlocks).map(b => Future(block(b)))),
          Duration.Inf).toArray
      }
    // merge in fixed block order (deterministic summation)
    val sums = Array.fill(kk)(new Array[Double](dim))
    val counts = new Array[Long](kk)
    partials.foreach { case (ps, pc) =>
      var c = 0
      while (c < kk) {
        val s = sums(c); val p = ps(c)
        var d = 0
        while (d < dim) { s(d) += p(d); d += 1 }
        counts(c) += pc(c)
        c += 1
      }
    }
    (sums, counts)
  }
}
