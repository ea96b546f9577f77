package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional trailing args: run only these queries (debug aid)
    val only = args.drop(2).toSet
    val spark = GraftSession.build("graft-verify", GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    // selectors are FULL query names: a typo'd selector silently ran ZERO
    // queries (and the checker passed vacuously on the empty manifest) —
    // fail loudly on any selector matching no declared query (r10 verdict)
    val unknown = only -- SparkEntry.queries.keySet
    if (unknown.nonEmpty) {
      System.err.println(s"[verify] unknown query selector(s): " +
        s"${unknown.toSeq.sorted.mkString(", ")} — selectors must be FULL " +
        "names from SparkEntry.queries (e.g. q326_index_follows_table)")
      spark.stop()
      sys.exit(2)
    }
    val ran = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
    ran.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // evidence-completeness manifest: the comparator fails LOUDLY on any
    // declared query whose output dir is missing (a thrown query would
    // otherwise vanish from the correctness evidence instead of failing it)
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      ran.keys.toSeq.sorted.map(n => "\"" + n + "\"").mkString("[", ",", "]"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
