package graft.io

import java.nio.file.Files

import graft.{JobProfile, SparkSpec}

/** The footer audits read the same footers, and return the same rows, on
  * the driver (a listing up to the threshold: no job) and in one job above
  * it. */
class FootersSpec extends SparkSpec {

  private val Threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  /** Four files of 250 consecutive `v` each, one row group per file. */
  private lazy val dir = {
    val d = Files.createTempDirectory("graft_footers").toString + "/t"
    spark.range(0, 1000, 1, 4).selectExpr("id AS v", "CAST(id % 7 AS INT) AS k")
      .write.parquet(d)
    d
  }

  /** `body`'s result and jobs, under the session threshold or at 2. */
  private def run[T](lowered: Boolean)(body: String => T): (T, Seq[String]) = {
    val path = dir // written before the jobs are counted
    if (!lowered) JobProfile.jobsOf(spark)(body(path))
    else {
      spark.conf.set(Threshold, "2")
      try JobProfile.jobsOf(spark)(body(path)) finally spark.conf.unset(Threshold)
    }
  }

  for (lowered <- Seq(false, true)) {
    val where = if (lowered) "1 job above the listing threshold" else "0 jobs on a short listing"

    test(s"schemaReport: one row per column and physical type, $where") {
      val (rows, jobs) = run(lowered)(p => ParquetIO.schemaReport(spark, Seq(p)).collect())
      assert(rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap ===
        Map(("v", "INT64") -> 4L, ("k", "INT32") -> 4L))
      assert(jobs.size === (if (lowered) 1 else 0), jobs)
    }

    test(s"fileStatsIndex: each file's row count and bounds, $where") {
      val (rows, jobs) = run(lowered)(p => ParquetIO.fileStatsIndex(spark, p, "v").collect())
      val got = rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4))).sortBy(_._3)
      assert(got.map(r => (r._2, r._3, r._4, r._5)).toSeq === (0 until 4).map(i =>
        (250L, i * 250.0, i * 250.0 + 249, true)))
      assert(got.zipWithIndex.forall { case (r, i) => r._1.contains(s"/part-0000$i-") }, got)
      assert(jobs.size === (if (lowered) 1 else 0), jobs)
    }

    test(s"overlappingRowGroups: the row groups a range overlaps, of all, $where") {
      val (counts, jobs) = run(lowered)(p => ZOrder.overlappingRowGroups(spark, p, "v", 300, 600))
      assert(counts === ((2L, 4L)))
      assert(jobs.size === (if (lowered) 1 else 0), jobs)
    }
  }
}
