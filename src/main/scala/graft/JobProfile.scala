package graft

import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Measurement harness (guide §1), on Bench's session config.
  *
  * Profile mode runs declared queries with a listener that records every
  * Spark job and root SQL execution. Per pass it reports the query's wall,
  * its critical-path wall (the union of those intervals: concurrent jobs
  * count once) and the driver-only time outside all of them; per call site
  * it reports summed job time, where overlapping jobs each count in full.
  * Explain mode prints each query's formatted physical plan and how many
  * Spark jobs ran while its DataFrame was built. Dev tool — never part of
  * the bench or the gate.
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

  /** Prints each query's formatted plan and the Spark jobs that ran while
    * its DataFrame was built. Eager work (a sampler's selection, a
    * follower's materialized batch) runs then and is absent from the plan,
    * which shows only a scan of its materialized result. */
  private def explain(sfDir: String, names: Seq[String]): Unit = {
    val spark = GraftSession.build("graft-explain", GraftSession.cpus)
    names.foreach { name =>
      println(s"===== $name =====")
      val (df, eager) = jobsOf(spark)(SparkEntry.queries(name)(spark, sfDir))
      println(s"eager jobs while building the DataFrame: ${eager.size}")
      eager.groupBy(identity).toSeq.sortBy(_._1).foreach { case (site, js) =>
        println(f"${js.size}%4d  $site")
      }
      println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
    }
    spark.stop()
  }

  private val MarkProperty = "graft.jobprofile.marker"

  /** Runs `body` and returns its result with the Spark jobs it started,
    * each named by its SQL execution's description, else by its last
    * stage. Job ids count up in submission order and a listener sees job
    * starts in that order, so two marker jobs bracket the body's jobs
    * once the second marker's start has arrived (awaited for at most
    * 30 s). Every job the context runs in between counts: run nothing
    * else on it meanwhile. */
  def jobsOf[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val starts = new LinkedBlockingQueue[(Int, Option[String], String)]()
    val sqlNames = new ConcurrentHashMap[String, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        val name = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
          .flatMap(x => Option(sqlNames.get(x)))
          .getOrElse(e.stageInfos.lastOption.map(_.name).getOrElse("?"))
        starts.add((e.jobId, prop(MarkProperty), name))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => sqlNames.put(s.executionId.toString, s.description)
        case _ => ()
      }
    }
    def mark(m: String): Unit = {
      sc.setLocalProperty(MarkProperty, m)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(MarkProperty, null)
    }
    sc.addSparkListener(listener)
    try {
      mark("start")
      val out = body
      mark("end")
      val seen = scala.collection.mutable.ArrayBuffer[(Int, Option[String], String)]()
      while (!seen.exists(_._2.contains("end"))) {
        val s = starts.poll(30, TimeUnit.SECONDS)
        require(s != null, "jobsOf: no job-start event within 30 s")
        seen += s
      }
      def markId(m: String) = seen.collectFirst { case (id, Some(`m`), _) => id }.get
      val (lo, hi) = (markId("start"), markId("end"))
      (out, seen.filter(j => j._1 > lo && j._1 < hi).sortBy(_._1).map(_._3).toSeq)
    } finally sc.removeSparkListener(listener)
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
