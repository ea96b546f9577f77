package graft

/** JobProfile's critical-path wall is the union of job and SQL-execution
  * intervals: concurrent jobs must count once, not summed. `jobsOf`
  * counts exactly the jobs its body starts, and profile mode counts the
  * same jobs. */
class JobProfileSpec extends SparkSpec {
  import JobProfile.{covered, jobsOf}

  test("covered: empty input, and empty or inverted intervals, cover nothing") {
    assert(covered(Nil) == 0L)
    assert(covered(Seq((5L, 5L), (9L, 3L))) == 0L)
  }

  test("covered: disjoint intervals add up") {
    assert(covered(Seq((20L, 25L), (0L, 10L))) == 15L)
  }

  test("covered: overlapping and touching intervals count their overlap once") {
    assert(covered(Seq((5L, 15L), (0L, 10L))) == 15L)
    assert(covered(Seq((0L, 10L), (10L, 12L), (11L, 30L))) == 30L)
  }

  test("covered: nested intervals add nothing to their container") {
    assert(covered(Seq((0L, 100L), (10L, 20L), (30L, 40L), (50L, 100L))) == 100L)
    assert(covered(Seq((10L, 20L), (0L, 100L), (200L, 210L))) == 110L)
  }

  test("jobsOf: exactly the body's jobs, SQL jobs named by their execution") {
    val sc = spark.sparkContext
    assert(jobsOf(spark)(42) === ((42, Nil)))
    val (n, jobs) = jobsOf(spark) {
      sc.parallelize(1 to 10, 2).count() + sc.parallelize(1 to 5, 1).count()
    }
    assert(n === 15L && jobs.size === 2, jobs)
    val (_, sql) = jobsOf(spark)(spark.range(100).selectExpr("sum(id)").collect())
    assert(sql.nonEmpty && sql.forall(_.startsWith("collect at")), sql)
  }

  test("profile mode counts a broadcast semi-join's Spark jobs as jobsOf does, under its root execution") {
    import org.apache.spark.sql.functions.broadcast
    def semi = spark.range(0, 1000).join(broadcast(spark.range(0, 1000, 7)), Seq("id"), "left_semi")
    val (n, t) = JobProfile.trace(spark)(semi.count())
    val (_, jobs) = jobsOf(spark)(semi.count())
    assert(n === 143L)
    val rows = JobProfile.bySite(t.jobs)
    // the broadcast and the count's stages are jobs of one root execution
    assert(jobs.size >= 2 && rows.map(_._2).sum === jobs.size, (rows, jobs))
    assert(t.executions.size === 1 && rows.map(_._1) === Seq(t.executions.head.site), (rows, t))
    assert(t.criticalMs > 0 && t.criticalMs <= t.end - t.start, t)
  }
}
