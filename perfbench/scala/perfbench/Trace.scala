package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** One closed span: a public library call (or a whole benchmark operation)
  * timed from outside. Times are epoch microseconds so they line up with
  * Spark's job events, which carry epoch milliseconds. */
final case class SpanRec(id: Int, parent: Int, name: String, startUs: Long, endUs: Long,
    attrs: Map[String, Double])

/** In-memory span recorder. With `on = false` every call is a plain
  * pass-through: the untraced run records no spans and registers no
  * listener, so its timings carry no tracing cost. */
final class Trace(val on: Boolean) {
  private val spans = ArrayBuffer[SpanRec]()
  private var stack = List.empty[Int]
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = Trace.nowUs()
      try body
      finally {
        stack = stack.tail
        spans += SpanRec(id, parent, name, start, Trace.nowUs(), Map.empty)
      }
    }

  /** Attach counts to the most recent closed span called `name`. */
  def annotate(name: String, attrs: (String, Double)*): Unit =
    if (on) {
      val i = spans.lastIndexWhere(_.name == name)
      if (i >= 0) spans(i) = spans(i).copy(attrs = spans(i).attrs ++ attrs)
    }

  def all: Seq[SpanRec] = spans.toSeq
}

object Trace {
  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
}

/** Per-job interval and the summed task metrics of the job's stages. */
final class JobRec(val id: Int, val startMs: Long) {
  var endMs = -1L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var inBytes = 0L
  var inRecords = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** The traced run's only view of Spark: job intervals and task metrics. */
final class JobListener extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = new JobRec(e.jobId, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) j.synchronized { j.endMs = e.time }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) j.synchronized {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.inBytes += m.inputMetrics.bytesRead
      j.inRecords += m.inputMetrics.recordsRead
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Wait until every started job has ended and task counts stop moving:
    * listener events arrive asynchronously. Bounded at five seconds. */
  def settle(): Unit = {
    import scala.jdk.CollectionConverters._
    def state = jobs.values.asScala.toSeq.map(j => j.synchronized((j.endMs, j.tasks)))
    val deadline = System.nanoTime() + 5000000000L
    var prev = state
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(20)
      val cur = state
      if (cur == prev && cur.forall(_._1 >= 0)) quiet += 1 else quiet = 0
      prev = cur
    }
  }

  def all: Seq[JobRec] = {
    import scala.jdk.CollectionConverters._
    jobs.values.asScala.toSeq.sortBy(_.id)
  }
}

object JobListener {
  def register(sc: SparkContext): JobListener = {
    val l = new JobListener
    sc.addSparkListener(l)
    l
  }
}
