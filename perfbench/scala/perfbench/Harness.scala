package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation of the closed loop. `cls` is its role: `write`
  * (lands user data), `refresh` (brings derived data up to date) or
  * `read` (answers the client); `other` ops count toward throughput only. */
final case class OpRec(round: Int, kind: String, cls: String, secs: Double, ok: Boolean, err: String)

/** A failed per-operation correctness check. */
final class WrongAnswer(msg: String) extends RuntimeException(msg)

/** State shared by one workload run: the session, the trace, the seed and
  * the run's own directory, plus every recorded operation. */
final class Run(val spark: SparkSession, var trace: Trace, val seed: Long, val dir: String) {
  val ops = ArrayBuffer[OpRec]()
  val recall = ArrayBuffer[(String, Double)]()
  var timedNs = 0L
  var recording = false
  var round = 0

  /** Time `body` as one operation, then verify its answer with `check`
    * outside the timed window. A throw or a failed check is a failed op:
    * it is counted, never retried. */
  def op[T](kind: String, cls: String)(body: => T)(check: T => Unit): Unit = {
    val t0 = System.nanoTime()
    val res = try Right(trace.span(s"op.$kind")(body)) catch { case e: Exception => Left(e) }
    val ns = System.nanoTime() - t0
    val err = res.flatMap(v => try { check(v); Right(()) } catch { case e: Exception => Left(e) })
      .left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    err.foreach(m => System.err.println(s"perfbench: $kind failed: $m"))
    if (recording) {
      timedNs += ns
      ops += OpRec(round, kind, cls, ns / 1e9, err.isEmpty, err.getOrElse(""))
    } else err.foreach(m => throw new WrongAnswer(s"$kind during set-up: $m"))
  }

  def expect(what: String, want: Any, got: Any): Unit =
    if (want != got) throw new WrongAnswer(s"$what: expected $want, got $got")

  def path(rel: String): String = new File(dir, rel).getPath

  private val inputs = scala.collection.mutable.Map[String, DataFrame]()
  /** A generated input table, read once: later reads reuse its schema. */
  def input(t: String): DataFrame = inputs.getOrElseUpdate(t, spark.read.parquet(path(s"in/$t")))
}

/** A closed-loop workload: `setup` builds its tables from generated inputs,
  * `round` issues one round of operations. */
trait Workload {
  /** Rounds in one cycle of the operation mix. */
  def cycle: Int = 1
  /** Operation time of one cycle on the 4-vCPU host the benchmark was
    * tuned on. A run of `seconds` measures seconds / cycleSeconds cycles,
    * rounded, at least one: a fixed count, whatever the host's speed. */
  def cycleSeconds: Double
  /** Rounds the generated change batches last for, warm-up included. */
  def maxRounds: Int
  /** Cycles run during set-up, checked but not recorded, so the timed
    * cycles start with the JIT and the caches warm. */
  def warmupCycles: Int = 1
  def setup(run: Run): Unit
  def round(run: Run, i: Int): Unit
  /** Bytes the workload's tables hold on disk, and the bytes of live user
    * data they represent. */
  def storage(run: Run): (Long, Long)
}

object Files {
  def walk(f: File): Seq[File] =
    if (f.isFile) Seq(f)
    else Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)

  def bytes(path: String): Long = walk(new File(path)).map(_.length()).sum

  /** Files under `path`, checksum side files excluded, with their sizes. */
  def listing(path: String): Map[String, Long] =
    walk(new File(path)).filterNot(_.getName.endsWith(".crc"))
      .map(f => f.getPath -> f.length()).toMap

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }
}

/** Minimal JSON rendering for the run's raw record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
