package graft.cli

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import graft.GraftSession
import graft.io.ParquetIO
import graft.operators.{Sampler, SemiJoinReducer}

/**
 * Reference CLI parity: the reference binaries print a progress line every
 * 1M input rows (src/bin/sample.rs:61-66, src/bin/join.rs:58-63). Spark
 * executes distributed, so the driver can't see individual rows; instead a
 * listener folds each finished task's input metrics into a running total
 * and prints whenever another `every` rows complete. Zero cost on the
 * executor hot path — metrics Spark already collects, aggregated on the
 * listener bus.
 */
final class ProgressListener(label: String, every: Long = ProgressListener.defaultEvery)
    extends SparkListener {
  private val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private var seen = 0L
  private var nextAt = every

  /** progress lines emitted so far (for tests; they also go to stdout) */
  def emitted: Seq[String] = lines.iterator().asScala.toSeq

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val recs = Option(e.taskMetrics).map(_.inputMetrics.recordsRead).getOrElse(0L)
    if (recs > 0) {
      seen += recs
      if (seen >= nextAt) {
        val line = s"[$label] processed $seen rows"
        lines.add(line)
        println(line)
        nextAt = (seen / every + 1) * every
      }
    }
  }
}

object ProgressListener {
  /** override with -Dgraft.progress.every=N (rows) */
  def defaultEvery: Long = sys.props.getOrElse("graft.progress.every", "1000000").toLong

  /** run `body` with a registered progress listener, always deregistering. */
  def withProgress[A](spark: SparkSession, label: String)(body: => A): A = {
    val l = new ProgressListener(label)
    spark.sparkContext.addSparkListener(l)
    try body finally spark.sparkContext.removeSparkListener(l)
  }
}

/** The CLI binaries default to every core, not Bench's 4. */
private[cli] object CliSession {
  def build(app: String): SparkSession = GraftSession.build(app,
    if (sys.env.contains("SPARK_GRAFT_CPUS")) GraftSession.cpus
    else Runtime.getRuntime.availableProcessors())
}

/**
 * CLI shim mirroring the reference's `sample` binary argv contract
 * (/root/reference/src/bin/sample.rs:17-20):
 *
 *   sample <in.parquet> <out.parquet> <ratio> [seed] [--bernoulli] [--single-file]
 *
 * The reference has no seed (thread_rng, sample.rs:42); ours defaults to 42
 * for reproducibility.
 */
object SampleMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: sample <in.parquet> <out.parquet> <ratio> [seed] [--bernoulli] [--single-file]")
    val Array(in, out, ratioStr) = args.take(3)
    val ratio = ratioStr.toDouble
    val seed = args.drop(3).find(a => !a.startsWith("--")).map(_.toLong).getOrElse(42L)
    val bernoulli = args.contains("--bernoulli")
    val singleFile = args.contains("--single-file")
    val spark = CliSession.build("graft-sample")
    ProgressListener.withProgress(spark, "graft-sample") {
      val result =
        if (bernoulli) Sampler.bernoulli(ParquetIO.read(spark, in), ratio, seed)
        else Sampler.exactFromParquet(spark, in, ratio, seed)
      ParquetIO.write(result, out, singleFile = singleFile)
    }
    println(s"sampled ${ParquetIO.rowCount(spark, out)} rows -> $out")
    spark.stop()
  }
}

/**
 * CLI shim mirroring the reference's `join` binary argv contract
 * (/root/reference/src/bin/join.rs:16-21):
 *
 *   join <dim.parquet> <dim_col> <fact_sample.parquet> <fact_col> <out.parquet>
 *        [--legacy-string-keys] [--single-file]
 */
object JoinMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 5,
      "usage: join <dim.parquet> <dim_col> <fact.parquet> <fact_col> <out.parquet> [--legacy-string-keys] [--single-file]")
    val Array(dimPath, dimCol, factPath, factCol, out) = args.take(5)
    val spark = CliSession.build("graft-join")
    ProgressListener.withProgress(spark, "graft-join") {
      val reduced = SemiJoinReducer.reduce(
        ParquetIO.read(spark, dimPath), dimCol,
        ParquetIO.read(spark, factPath), factCol,
        legacyStringKeys = args.contains("--legacy-string-keys"))
      ParquetIO.write(reduced, out, singleFile = args.contains("--single-file"))
    }
    println(s"kept ${ParquetIO.rowCount(spark, out)} rows -> $out")
    spark.stop()
  }
}
