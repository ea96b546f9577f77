package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession config shared by every entry point (Bench, Verify,
  * JobProfile, the `sample`/`join` CLI) and by the test suites.
  * A profile or plan taken under a config other than Bench's is no evidence
  * about Bench, so the settings live here and nowhere else. */
object GraftSession {

  /** `$SPARK_GRAFT_CPUS`, else 4: the local core count and shuffle width. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** master `local[cpus]` (or `$SPARK_GRAFT_MASTER`, the deployment
    * override), shuffle partitions = cpus, UTC session time zone, AQE on,
    * UI off, log level WARN. */
  def build(app: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .appName(app)
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) which Spark has no native
      // type for; read as long nanos (queries convert explicitly)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm up the JVM/codegen/scan paths so the first timed query doesn't
    * absorb session startup (a fixed cluster cost, not query cost). */
  def warm(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      // streaming engine init (state store providers, sink registry) is a
      // similar fixed cost — warm it on the tiniest SF next to `sfDir` so
      // the first timed streaming query measures the query, not the machinery
      val tiny = new java.io.File(new java.io.File(sfDir).getAbsoluteFile.getParentFile, "sf0.001")
      if (tiny.isDirectory)
        SparkEntry.queries("q83_stream_sample")(spark, tiny.getPath).count()
    } catch { case _: Throwable => () }
}
