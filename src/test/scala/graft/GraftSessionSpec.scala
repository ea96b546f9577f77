package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** One session config for every entry point and every suite. The shared
  * session is read, never rebuilt with other settings: `getOrCreate` would
  * rewrite its SQL confs under every other suite in this JVM. */
class GraftSessionSpec extends SparkSpec {

  test("the shared test session carries the GraftSession config") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.sparkContext.master == sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[4]"))
  }

  test("sessions are built only in GraftSession.scala") {
    // split so this file's own source does not match
    val builder = ("SparkSession" + """\s*\.\s*builder""").r
    val roots = Seq("src/main", "src/test").map(Paths.get(_))
    assert(roots.forall(Files.isDirectory(_)), "suite must run from the repository root")
    val sources = roots.flatMap { r =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        (p.toString.endsWith(".scala") || p.toString.endsWith(".java"))).toList
      finally s.close()
    }
    assert(sources.size > 100)
    val hits = sources.filter((p: Path) => builder.findFirstIn(Files.readString(p)).isDefined)
      .map(_.toString.replace('\\', '/'))
    assert(hits == Seq("src/main/scala/graft/GraftSession.scala"))
  }
}
