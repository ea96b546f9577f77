package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Measurement harness (guide §1), on Bench's session config.
  *
  * Profile mode runs declared queries under [[trace]], which records every
  * Spark job and root SQL execution. Per pass it reports the query's wall,
  * its critical-path wall (the union of those intervals: concurrent jobs
  * count once) and the driver-only time outside all of them; per call site
  * it reports the Spark jobs and their summed time, where overlapping jobs
  * each count in full. A job inside a SQL execution counts under the root
  * execution's call site, as [[jobsOf]] names it.
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

  /** A finished Spark job or root SQL execution: its call site and its
    * interval in listener-event time (driver wall clock, ms). */
  final case class Span(site: String, start: Long, end: Long)

  /** One run of a body: its wall interval, the Spark jobs it started and
    * the root SQL executions that ran in it. */
  final case class Trace(start: Long, end: Long, jobs: Seq[Span], executions: Seq[Span]) {
    /** The union of the job and execution intervals inside the wall:
      * concurrent jobs count once. */
    def criticalMs: Long =
      covered((jobs ++ executions).map(s => (s.start max start, s.end min end)))
  }

  /** Runs `body` and returns its result with the Spark jobs it started,
    * each named by its SQL execution's description, else by its last
    * stage. */
  def jobsOf[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val (out, t) = trace(spark)(body)
    (out, t.jobs.map(_.site))
  }

  /** Runs `body` and returns its result with what it ran. A job inside a
    * SQL execution is named by its root execution's description (nested
    * executions such as subqueries roll up into the root), any other job
    * by its last stage. Job ids count up in submission order and a
    * listener sees job starts in that order, so two marker jobs bracket
    * the body's jobs once the second marker's start has arrived (awaited
    * for at most 30 s); a job still running then ends with the body's
    * wall. Every job the context runs in between counts: run nothing
    * else on it meanwhile. */
  def trace[T](spark: SparkSession)(body: => T): (T, Trace) = {
    val sc = spark.sparkContext
    val starts = new LinkedBlockingQueue[(Int, Option[String], String, Long)]()
    val ends = new ConcurrentHashMap[Int, Long]()
    val sqlNames = new ConcurrentHashMap[String, String]()
    val sqlStarts = new ConcurrentHashMap[Long, (Long, String)]()
    val executions = new ConcurrentLinkedQueue[Span]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        val name = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
          .flatMap(x => Option(sqlNames.get(x)))
          .getOrElse(e.stageInfos.lastOption.map(_.name).getOrElse("?"))
        starts.add((e.jobId, prop(MarkProperty), name, e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = { ends.put(e.jobId, e.time); () }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          sqlNames.put(s.executionId.toString, s.description)
          if (s.rootExecutionId.forall(_ == s.executionId))
            sqlStarts.put(s.executionId, (s.time, s.description))
        case d: SparkListenerSQLExecutionEnd =>
          Option(sqlStarts.remove(d.executionId))
            .foreach { case (t, site) => executions.add(Span(site, t, d.time)) }
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
      val t0 = System.currentTimeMillis()
      val out = body
      val t1 = System.currentTimeMillis()
      mark("end")
      val seen = scala.collection.mutable.ArrayBuffer[(Int, Option[String], String, Long)]()
      while (!seen.exists(_._2.contains("end"))) {
        val s = starts.poll(30, TimeUnit.SECONDS)
        require(s != null, "jobsOf: no job-start event within 30 s")
        seen += s
      }
      def markId(m: String) = seen.collectFirst { case (id, Some(`m`), _, _) => id }.get
      val (lo, hi) = (markId("start"), markId("end"))
      val jobs = seen.filter(j => j._1 > lo && j._1 < hi).sortBy(_._1).map {
        case (id, _, site, start) => Span(site, start, ends.getOrDefault(id, t1))
      }.toSeq
      (out, Trace(t0, t1, jobs, executions.asScala.filter(_.start >= t0).toSeq))
    } finally sc.removeSparkListener(listener)
  }

  /** Per call site: the jobs and their summed wall (ms), largest first;
    * overlapping jobs each count in full. */
  def bySite(jobs: Seq[Span]): Seq[(String, Int, Long)] =
    jobs.groupBy(_.site).map { case (site, ss) => (site, ss.size, ss.map(s => s.end - s.start).sum) }
      .toSeq.sortBy(-_._3)

  private def profile(sfDir: String, names: Seq[String], passes: Int): Unit = {
    val spark = GraftSession.build("graft-jobprofile", GraftSession.cpus)
    GraftSession.warm(spark, sfDir)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count() // one warm pass unrecorded
      val runs = (1 to passes).map { pass =>
        val (_, t) = trace(spark)(fn(spark, sfDir).count())
        val (wallMs, critMs) = (t.end - t.start, t.criticalMs)
        println(f"PASS $pass wall=${wallMs / 1000.0}%.3f s  " +
          f"critical-path=${critMs / 1000.0}%.3f s  driver-only=${(wallMs - critMs) / 1000.0}%.3f s")
        (wallMs, t.jobs)
      }
      println(f"QUERY $name wall=${runs.map(_._1).sum / 1000.0 / passes}%.3f s/pass over $passes passes")
      val rows = bySite(runs.flatMap(_._2))
      println(f"summed job wall (overlapping jobs count in full): ${rows.map(_._3).sum / 1000.0 / passes}%.3f s/pass " +
        f"across ${rows.map(_._2).sum / passes} jobs/pass")
      rows.take(40).foreach { case (site, n, ms) =>
        println(f"${ms / 1000.0 / passes}%8.3f s/pass summed  ${n / passes}%4d jobs  $site")
      }
    }
    spark.stop()
  }
}
