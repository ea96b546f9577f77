package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Measurement harness (guide §1), on Bench's session config.
  *
  * Profile mode runs declared queries with a listener that records every
  * Spark job and root SQL execution. Per pass it reports the query's wall,
  * its critical-path wall (the union of those intervals: concurrent jobs
  * count once) and the driver-only time outside all of them; per call site
  * it reports summed job time, where overlapping jobs each count in full.
  * Explain mode prints each query's formatted physical plan. Dev tool —
  * never part of the bench or the gate.
  *
  *   runMain graft.JobProfile <sfDir> <queryName>[,<queryName>...] [passes]
  *   runMain graft.JobProfile explain <sfDir> <queryName>[,<queryName>...]...
  */
object JobProfile {

  /** Total length covered by the union of half-open `[start, end)`
    * intervals; empty and inverted intervals cover nothing. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    // by start order, the interval reaching `end` covers [start, end):
    // each interval adds only what lies beyond it
    var end = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { total += e - math.max(s, end); end = e }
    }
    total
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "explain" :: sfDir :: names if names.nonEmpty =>
      explain(sfDir, names.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
    case sfDir :: names :: rest if rest.size <= 1 =>
      profile(sfDir, names.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        rest.headOption.map(_.toInt).getOrElse(1))
    case _ =>
      System.err.println("usage: JobProfile <sfDir> <queryName>[,...] [passes]\n" +
        "       JobProfile explain <sfDir> <queryName>[,...]...")
      sys.exit(2)
  }

  private def explain(sfDir: String, names: Seq[String]): Unit = {
    val spark = GraftSession.build("graft-explain", GraftSession.cpus)
    names.foreach { name =>
      println(s"===== $name =====")
      println(SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }

  private def profile(sfDir: String, names: Seq[String], passes: Int): Unit = {
    val spark = GraftSession.build("graft-jobprofile", GraftSession.cpus)

    // (call site, start, end) of each finished job and root SQL execution,
    // in listener-event times (driver wall clock, ms). A job inside a SQL
    // execution has no site of its own: the execution's call site accounts
    // for it, and nested executions (subqueries etc.) roll up into the root.
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val sqlStarts = new java.util.concurrent.ConcurrentHashMap[Long, (Long, String)]()
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
    @volatile var record = false
    def done(site: String, start: Long, end: Long): Unit =
      if (record) spans.add((site, start, end))
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val inSql = Option(e.properties)
          .exists(p => p.getProperty("spark.sql.execution.id") != null)
        val site = if (inSql) null
          else "rdd: " + e.stageInfos.lastOption.map(_.name).getOrElse("?")
        jobStarts.put(e.jobId, (e.time, site))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val s = jobStarts.remove(e.jobId)
        if (s != null) done(s._2, s._1, e.time)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.rootExecutionId.forall(_ == s.executionId) =>
          sqlStarts.put(s.executionId, (s.time, "sql: " + s.description))
        case d: SparkListenerSQLExecutionEnd =>
          val s = sqlStarts.remove(d.executionId)
          if (s != null) done(s._2, s._1, d.time)
        case _ => ()
      }
    })

    GraftSession.warm(spark, sfDir)

    import scala.jdk.CollectionConverters._
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count() // one warm pass unrecorded
      Thread.sleep(500)
      val runs = (1 to passes).map { pass =>
        spans.clear()
        record = true
        val t0 = System.currentTimeMillis()
        fn(spark, sfDir).count()
        val t1 = System.currentTimeMillis()
        Thread.sleep(500) // let async job-end events drain
        record = false
        val inPass = spans.asScala.toSeq
        val critMs = covered(inPass.map { case (_, s, e) => (s max t0, e min t1) })
        println(f"PASS $pass wall=${(t1 - t0) / 1000.0}%.3f s  " +
          f"critical-path=${critMs / 1000.0}%.3f s  driver-only=${(t1 - t0 - critMs) / 1000.0}%.3f s")
        (t1 - t0, inPass)
      }
      println(f"QUERY $name wall=${runs.map(_._1).sum / 1000.0 / passes}%.3f s/pass over $passes passes")
      val rows = runs.flatMap(_._2).filter(_._1 != null).groupBy(_._1)
        .map { case (site, ss) => (site, ss.size, ss.map(x => x._3 - x._2).sum) }.toSeq.sortBy(-_._3)
      println(f"summed job wall (overlapping jobs count in full): ${rows.map(_._3).sum / 1000.0 / passes}%.3f s/pass " +
        f"across ${rows.map(_._2).sum / passes} jobs/pass")
      rows.take(40).foreach { case (site, n, ms) =>
        println(f"${ms / 1000.0 / passes}%8.3f s/pass summed  ${n / passes}%4d jobs  $site")
      }
    }
    spark.stop()
  }
}
