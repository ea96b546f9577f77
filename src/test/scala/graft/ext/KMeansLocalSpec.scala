package graft.ext

import graft.SparkSpec
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.graft.KMeansLocal
import org.apache.spark.sql.functions._

/** KMeansLocal is the driver-side Lloyd loop the quantizer fits use on
  * their maxTrainRows-capped samples. Centroids are not pinned against the
  * distributed loop (summation order differs; callers export recall
  * contracts) — what IS pinned: determinism for a fixed seed, recovery of
  * well-separated clusters, the n < k and empty-cluster edges, and that
  * the returned ml model transforms like any KMeansModel. */
class KMeansLocalSpec extends SparkSpec {

  private def blob(cx: Double, cy: Double, n: Int, seed: Int): Seq[Array[Double]] = {
    val r = new scala.util.Random(seed)
    (0 until n).map(_ => Array(cx + r.nextGaussian() * 0.05, cy + r.nextGaussian() * 0.05))
  }

  test("recovers well-separated clusters and is deterministic per seed") {
    val pts = (blob(0, 0, 40, 1) ++ blob(10, 10, 40, 2) ++ blob(-10, 5, 40, 3)).toArray
    val c1 = KMeansLocal.run(pts, 3, seed = 42L, maxIter = 20)
    val c2 = KMeansLocal.run(pts, 3, seed = 42L, maxIter = 20)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq) // bit-deterministic
    // each true center has a fitted center within 0.5
    Seq((0.0, 0.0), (10.0, 10.0), (-10.0, 5.0)).foreach { case (x, y) =>
      assert(c1.exists(c => math.hypot(c(0) - x, c(1) - y) < 0.5),
        s"no center near ($x, $y): ${c1.map(_.toSeq).mkString("; ")}")
    }
  }

  test("n < k keeps n centers; ties and duplicates don't crash") {
    val pts = Array(Array(1.0, 1.0), Array(1.0, 1.0), Array(2.0, 2.0))
    val cs = KMeansLocal.run(pts, 8, seed = 7L, maxIter = 5)
    assert(cs.length == 3)
    cs.foreach(c => assert(c.length == 2))
  }

  test("fit returns a transformable ml model with sane predictions") {
    import spark.implicits._
    val rows = (blob(0, 0, 30, 4) ++ blob(50, 50, 30, 5)).zipWithIndex
      .map { case (p, i) => (i.toLong, p.map(_.toFloat).toSeq) }
    val df = rows.toDF("id", "v")
      .select(col("id"), array_to_vector(col("v")).as("features"))
    val model = KMeansLocal.fit(df.select("features"), 2, 42L, 10)
    assert(model.clusterCenters.length == 2)
    val pred = model.transform(df).select("id", "prediction").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the two blobs land in two distinct clusters, consistently
    val c0 = (0 until 30).map(i => pred(i.toLong)).distinct
    val c1 = (30 until 60).map(i => pred(i.toLong)).distinct
    assert(c0.size == 1 && c1.size == 1 && c0.head != c1.head)
  }
}
