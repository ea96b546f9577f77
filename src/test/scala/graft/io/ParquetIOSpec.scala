package graft.io

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.{JobProfile, SparkSpec}

class ParquetIOSpec extends SparkSpec {

  private def roundTrip(schema: StructType, rows: Seq[Row]): Unit = {
    val dir = Files.createTempDirectory("graft_io").toString + "/t"
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    ParquetIO.write(df, dir)
    val back = ParquetIO.read(spark, dir)
    assert(back.schema.map(f => (f.name, f.dataType)) === schema.map(f => (f.name, f.dataType)))
    assert(back.count() === rows.size)
    // set-op compare not supported on MAP columns: compare row renderings
    // (hex binary columns first — Array[Byte] renders by object identity)
    def render(d: org.apache.spark.sql.DataFrame) = {
      import org.apache.spark.sql.functions.{col, hex}
      val cols = schema.map(f =>
        if (f.dataType == BinaryType) hex(col(f.name)).as(f.name) else col(f.name))
      d.select(cols: _*).collect().map(_.toString).sorted.toSeq
    }
    assert(render(back) === render(df))
  }

  test("all six reference physical types round-trip, with NULLs in every column") {
    // mirrors the exact type set of the reference sink (lib.rs:38-121)
    val schema = StructType(Seq(
      StructField("b", BooleanType), StructField("i", IntegerType),
      StructField("l", LongType), StructField("f", FloatType),
      StructField("d", DoubleType), StructField("s", StringType)))
    roundTrip(schema, Seq(
      Row(true, 1, 2L, 1.5f, 2.5, "x"),
      Row(false, -1, Long.MaxValue, -0.0f, Double.MinPositiveValue, ""),
      Row(null, null, null, null, null, null)))
  }

  test("types the reference panics on (lib.rs:122-124) are lifted: timestamp/date/decimal/array/map/struct") {
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("dt", DateType),
      StructField("dec", DecimalType(18, 4)),
      StructField("arr", ArrayType(FloatType)),
      StructField("m", MapType(StringType, LongType)),
      StructField("st", StructType(Seq(StructField("a", IntegerType), StructField("b", StringType)))),
      StructField("bin", BinaryType)))
    roundTrip(schema, Seq(
      Row(Timestamp.valueOf("2024-01-02 03:04:05.123456"), Date.valueOf("2024-06-30"),
        BigDecimal("12345.6789").bigDecimal, Seq(1.0f, 2.5f),
        Map("k" -> 9L), Row(7, "inner"), Array[Byte](1, 2, 3)),
      Row(null, null, null, null, null, null, null)))
  }

  test("overwrite mode replaces prior output (File::create parity)") {
    val dir = Files.createTempDirectory("graft_io").toString + "/o"
    import spark.implicits._
    ParquetIO.write(Seq(1, 2, 3).toDF("x"), dir)
    ParquetIO.write(Seq(9).toDF("x"), dir)
    assert(ParquetIO.read(spark, dir).count() === 1)
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val o = spark.read.parquet(s"$sf0001/orders.parquet")
    Seq("li_bkt", "o_bkt").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    ParquetIO.writeBucketed(li, "li_bkt", Seq("l_orderkey"), 4, sortCols = Seq("l_orderkey"))
    ParquetIO.writeBucketed(o, "o_bkt", Seq("o_orderkey"), 4, sortCols = Seq("o_orderkey"))
    // disable auto-broadcast so the planner considers the bucketed
    // sort-merge path (with a broadcastable dim the bucket layout is moot)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bkt")
        .join(spark.table("o_bkt"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle\n$plan")
      assert(joined.count() === li.count()) // every lineitem has its order
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE li_bkt"); spark.sql("DROP TABLE o_bkt")
    }
  }

  test("singleFile=true produces exactly one part file (reference single-file layout)") {
    val dir = Files.createTempDirectory("graft_io").toString + "/s"
    import spark.implicits._
    ParquetIO.write((1 to 100).toDF("x").repartition(8), dir, singleFile = true)
    val parts = new java.io.File(dir).listFiles().count(_.getName.startsWith("part-"))
    assert(parts === 1)
  }

  test("full reference sink layout: one file, one row group, uncompressed (lib.rs:25-27,130-133)") {
    val dir = Files.createTempDirectory("graft_io").toString + "/rg"
    import spark.implicits._
    ParquetIO.write((1 to 50000).toDF("x").repartition(8), dir,
      singleFile = true, compression = Some("uncompressed"),
      rowGroupBytes = Some(1L << 30))
    assert(ParquetIO.rowGroupCount(spark, dir) === 1)
    assert(ParquetIO.rowCount(spark, dir) === 50000)
    // and the opposite knob direction: a tiny target splits into many groups
    val dir2 = Files.createTempDirectory("graft_io").toString + "/rg2"
    ParquetIO.write((1 to 50000).toDF("x").repartition(1), dir2,
      singleFile = true, rowGroupBytes = Some(64L * 1024))
    assert(ParquetIO.rowGroupCount(spark, dir2) > 1)
  }

  test("rowCount is footer-only and matches a distributed count") {
    val dir = Files.createTempDirectory("graft_io").toString + "/rc"
    import spark.implicits._
    ParquetIO.write((1 to 12345).toDF("x").repartition(5), dir)
    assert(ParquetIO.rowCount(spark, dir) === 12345)
    assert(ParquetIO.rowCount(spark, dir) === ParquetIO.read(spark, dir).count())
  }

  test("rowCount and rowGroupCount descend partition directories; an empty directory counts 0") {
    val dir = Files.createTempDirectory("graft_io").toString + "/rcp"
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    ParquetIO.writePartitioned(li, dir, Seq("l_returnflag"))
    assert(new java.io.File(dir).listFiles().count(_.getName.startsWith("l_returnflag=")) > 1)
    assert(ParquetIO.rowCount(spark, dir) === ParquetIO.read(spark, dir).count())
    assert(ParquetIO.rowGroupCount(spark, dir) >= new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum)
    val empty = Files.createTempDirectory("graft_io").toString
    assert(ParquetIO.rowCount(spark, empty) === 0)
    assert(ParquetIO.rowGroupCount(spark, empty) === 0)
  }

  test("compact: footer-sized rewrite cuts file count, preserves content, coalesce path shuffle-free") {
    import org.apache.spark.sql.functions.col
    val base = Files.createTempDirectory("graft_compact").toString
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    docs.repartition(32).write.mode("overwrite").parquet(s"$base/frag")
    val (before, after, bytes) = ParquetIO.compact(spark, s"$base/frag", s"$base/out",
      targetFileBytes = 256L << 20)
    assert(before === 32)
    assert(after === 1) // tiny corpus -> everything fits one target file
    assert(bytes > 0)
    // content identity (multiset)
    val a = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    val b = spark.read.parquet(s"$base/out").select(col("doc_id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(a === b)
    // default path must not shuffle: no Exchange anywhere in the write plan
    val plan = spark.read.parquet(s"$base/frag").coalesce(1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // a mid-range target lands between 1 file and the input count
    val (_, midFiles, _) = ParquetIO.compact(spark, s"$base/frag", s"$base/out2",
      targetFileBytes = bytes / 4 + 1)
    assert(midFiles >= 2 && midFiles < 32, s"got $midFiles files")
  }

  test("schemaReport: footer-only drift audit — column-add, type drift, nested leaves") {
    import org.apache.spark.sql.functions._
    val base = Files.createTempDirectory("graft_drift_spec").toString
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    docs.select(col("doc_id").cast("int").as("doc_id"), col("text"))
      .repartition(2).write.mode("overwrite").parquet(s"$base/g1")
    docs.select(col("doc_id"), col("text"), col("lang"))
      .repartition(3).write.mode("overwrite").parquet(s"$base/g2")
    val rep = ParquetIO.schemaReport(spark, Seq(s"$base/g1", s"$base/g2"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(rep === Map(
      ("doc_id", "INT32") -> 2L, ("doc_id", "INT64") -> 3L,
      ("text", "BINARY") -> 5L, ("lang", "BINARY") -> 3L))
    // nested types surface as dotted leaf paths, not a crash
    docs.limit(10).select(col("doc_id"),
      struct(col("lang"), col("n_chars")).as("meta"),
      array(col("source")).as("tags"))
      .write.mode("overwrite").parquet(s"$base/nested")
    val nested = ParquetIO.schemaReport(spark, Seq(s"$base/nested"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(nested("meta.lang") === "BINARY")
    assert(nested("meta.n_chars") === "INT64")
    assert(nested.keys.exists(_.startsWith("tags."))) // list leaf path
    // empty input fails fast
    val e = intercept[IllegalArgumentException] {
      ParquetIO.schemaReport(spark, Seq(Files.createTempDirectory("graft_empty").toString))
    }
    assert(e.getMessage.contains("no parquet files"))
  }

  test("partitioned sink: hive layout, content round-trip, and directory-level pruning") {
    val dir = Files.createTempDirectory("graft_io").toString + "/part"
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    ParquetIO.writePartitioned(docs, dir, Seq("lang"))
    // hive directory layout exists
    val langDirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName)
    assert(langDirs.nonEmpty && langDirs.forall(_.startsWith("lang=")))
    // read-back content equals the source (partition col round-trips)
    val back = spark.read.parquet(dir)
    assert(back.count() === docs.count())
    val gotEn = back.filter(org.apache.spark.sql.functions.col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expEn = docs.filter(org.apache.spark.sql.functions.col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotEn === expEn && gotEn.nonEmpty)
    // the filter prunes at the PARTITION level, before any file is opened
    val plan = back.filter(org.apache.spark.sql.functions.col("lang") === "en")
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters") &&
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*lang[^\\]]*\\].*"), plan)
    intercept[IllegalArgumentException] {
      ParquetIO.writePartitioned(docs, dir, Seq.empty)
    }
  }

  test("fileStatsIndex: per-file bounds are exact, counts sum to the table") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_fsi").toString
    (1L to 1000L).toDF("v")
      .repartitionByRange(4, col("v"))
      .write.mode("overwrite").parquet(dir)
    val idx = ParquetIO.fileStatsIndex(spark, dir, "v").collect()
    assert(idx.length === 4)
    assert(idx.forall(_.getAs[Boolean]("has_stats")))
    assert(idx.map(_.getAs[Long]("row_count")).sum === 1000L)
    // bounds match the actual per-file extremes
    idx.foreach { r =>
      val actual = spark.read.parquet(r.getAs[String]("file"))
        .agg(org.apache.spark.sql.functions.min(col("v")),
          org.apache.spark.sql.functions.max(col("v")))
        .collect().head
      assert(r.getAs[Double]("min_v") === actual.getLong(0).toDouble)
      assert(r.getAs[Double]("max_v") === actual.getLong(1).toDouble)
    }
    // range-clustered layout: file ranges are disjoint
    val spans = idx.map(r => (r.getAs[Double]("min_v"), r.getAs[Double]("max_v")))
      .sortBy(_._1)
    assert(spans.sliding(2).forall { case Array(a, b) => a._2 < b._1; case _ => true })
  }

  test("prunedFiles skips out-of-range files; prunedRead equals the plain scan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_fsp").toString
    (1L to 1000L).toDF("v")
      .repartitionByRange(4, col("v"))
      .write.mode("overwrite").parquet(dir)
    // a narrow probe hits 1 of the 4 ~250-wide range files (+ boundary)
    val keep = ParquetIO.prunedFiles(spark, dir, "v", 100.0, 200.0)
    assert(keep.size < 4 && keep.nonEmpty)
    val got = ParquetIO.prunedRead(spark, dir, "v", 100.0, 200.0)
      .collect().map(_.getLong(0)).toSet
    assert(got === (100L to 200L).toSet)
    // degenerate probe outside all bounds: require fires (no files at all)
    intercept[IllegalArgumentException] {
      ParquetIO.prunedRead(spark, dir, "v", 5000.0, 6000.0)
    }
  }

  test("writeBucketed cleans an orphaned warehouse dir from a dead session") {
    import spark.implicits._
    // simulate a previous process's leftovers: files at the table's
    // default location with NO catalog entry in this session
    val loc = new java.io.File(
      new java.net.URI(spark.sessionState.conf.warehousePath).getPath
        match { case p if p.nonEmpty => p
                case _ => spark.sessionState.conf.warehousePath },
      "g_orphan_t")
    loc.mkdirs()
    (1L to 5L).toDF("old").write.mode("overwrite")
      .parquet(new java.io.File(loc, "part-stale").toString)
    assert(!spark.catalog.tableExists("g_orphan_t"))
    ParquetIO.writeBucketed((10L to 12L).toDF("v"), "g_orphan_t", Seq("v"), 2)
    // only the fresh rows: the stale files were deleted, not mixed in
    assert(spark.table("g_orphan_t").collect().map(_.getLong(0)).sorted
      === Array(10L, 11L, 12L))
    spark.sql("DROP TABLE g_orphan_t")
  }

  // ---- reading: the schema from one driver-side footer ----

  private def fixtureTables: Seq[String] =
    Files.list(Paths.get(sf0001)).iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted

  /** A Spark-written three-file directory (with `_SUCCESS` and `.crc`
    * files) and a `writePartitioned` directory. */
  private lazy val writtenDirs: Seq[String] = {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft_schema")
    val rows = spark.range(0, 300, 1, 3).select(col("id"),
      (col("id") % 3).cast("int").as("g"), col("id").cast("string").as("s"))
    val multi = root.resolve("multi").toString
    rows.write.parquet(multi)
    val names = new java.io.File(multi).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")) &&
      names.count(_.endsWith(".parquet")) == 3)
    val parted = root.resolve("parted").toString
    ParquetIO.writePartitioned(rows, parted, Seq("g"))
    Seq(multi, parted)
  }

  /** A directory of two single files with different columns:
    * `part-a.parquet` (x, y) sorts before `part-b.parquet` (x, z). */
  private lazy val driftDir: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_drift")
    def put(df: DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft_drift_src").resolve("t").toString
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    put(Seq((1L, "a")).toDF("x", "y"), "part-a.parquet")
    put(Seq((2L, 2.5)).toDF("x", "z"), "part-b.parquet")
    dir.toString
  }

  test("read: building the DataFrame and taking its schema runs no Spark job") {
    for (p <- fixtureTables ++ writtenDirs :+ driftDir) {
      val (_, jobs) = JobProfile.jobsOf(spark)(ParquetIO.read(spark, p).schema)
      assert(jobs.isEmpty, s"$p: $jobs")
    }
    // what this saves: Spark's own inference reads the same footer in a job
    val (_, plain) = JobProfile.jobsOf(spark)(spark.read.parquet(fixtureTables.head).schema)
    assert(plain.nonEmpty)
  }

  test("read: the schema equals spark.read.parquet's on every input shape") {
    val tables = fixtureTables
    assert(tables.exists(_.endsWith("/events.parquet")) &&
      tables.exists(_.endsWith("/embeddings.parquet")))
    for (p <- tables ++ writtenDirs :+ driftDir)
      assert(ParquetIO.read(spark, p).schema === spark.read.parquet(p).schema, p)
    // multi-path reads take the same single file Spark does
    assert(ParquetIO.read(spark, tables.take(2): _*).schema ===
      spark.read.parquet(tables.take(2): _*).schema)
    // the fixtures' footers carry no Spark schema, so the converter decided
    // every type above, `events.ts` and `embeddings.embedding` included
    val conf = spark.sessionState.newHadoopConf()
    for (p <- tables)
      assert(!org.apache.parquet.hadoop.ParquetFileReader.readFooter(conf,
        new org.apache.hadoop.fs.Path(p), org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
        .getFileMetaData.getKeyValueMetaData.containsKey("org.apache.spark.sql.parquet.row.metadata"), p)
  }

  test("read: without mergeSchema the first file by path decides; with it, Spark merges") {
    assert(ParquetIO.read(spark, driftDir).schema.fieldNames.toSeq === Seq("x", "y"))
    val merged = spark.read.format(classOf[FooterSchemaParquetFormat].getName)
      .option("mergeSchema", "true").load(driftDir).schema
    assert(merged === spark.read.option("mergeSchema", "true").parquet(driftDir).schema)
    assert(merged.fieldNames.toSeq === Seq("x", "y", "z"))
  }

  test("read: an empty directory or an unreadable footer fails as Spark's read does") {
    def failure(body: => Any): Throwable =
      intercept[Throwable] { body; () }
    val empty = Files.createTempDirectory("graft_empty").toString
    val a = failure(ParquetIO.read(spark, empty))
    val b = failure(spark.read.parquet(empty))
    assert(a.getClass === b.getClass)
    assert(a.getMessage === b.getMessage)
    val bad = Files.createTempDirectory("graft_bad")
    Files.writeString(bad.resolve("part-0.parquet"), "not a parquet file")
    val c = failure(ParquetIO.read(spark, bad.toString).schema)
    val d = failure(spark.read.parquet(bad.toString).schema)
    assert(c.getClass === d.getClass)
  }

  // ---- writing: permissions set in-process ----

  /** The command lines of the processes JFR sees start while `body` runs,
    * except on Spark's heartbeat thread: it runs `getconf` once per JVM,
    * whenever its first beat falls. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("graft_jfr", ".jfr")
    try {
      rec.dump(f)
      jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .filterNot(e => Option(e.getThread).exists(_.getJavaName == "driver-heartbeater"))
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(f) }
  }

  /** Every file and directory under `root` with its POSIX permissions,
    * keyed by its relative path with the write's UUIDs masked. */
  private def modes(root: String): Map[String, String] = {
    val r = Paths.get(root)
    val s = Files.walk(r)
    try s.iterator().asScala.map { (p: Path) =>
      r.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "U") ->
        java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap finally s.close()
  }

  test("graft's writes fork no process and leave the permissions a plain write leaves") {
    import spark.implicits._
    val rows = (1 to 40).map(i => (i.toLong, s"v$i")).toDF("k", "v").repartition(2)
    val root = Files.createTempDirectory("graft_nofork")
    val tbl = root.resolve("tbl").toString
    TxLog.create(spark, tbl, rows.limit(3))
    val viaIo = root.resolve("io").toString
    val forks = processStarts {
      TxLog.append(spark, tbl, rows)
      ParquetIO.write(rows, viaIo)
    }
    assert(forks.isEmpty)
    val plain = root.resolve("plain").toString
    val plainForks = processStarts(rows.write.mode("overwrite").parquet(plain))
    // without Hadoop's native library a plain local write forks `chmod`,
    // which shows the recording above would have seen one
    if (!org.apache.hadoop.util.NativeCodeLoader.isNativeCodeLoaded) assert(plainForks.nonEmpty)
    assert(modes(viaIo) === modes(plain))
    // segments carry no _SUCCESS: compare (is a directory, mode) kinds
    def kinds(root: String) = modes(root).map { case (rel, mode) =>
      (Files.isDirectory(Paths.get(root, rel)), mode) }.toSet
    assert(kinds(Paths.get(tbl, "data").toString) === kinds(plain))
  }

  // ---- guards: one read path, one writer ----

  private def mainSources: Seq[(String, String)] = {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), "suite must run from the repository root")
    val s = Files.walk(root)
    try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
      (p.toString.endsWith(".scala") || p.toString.endsWith(".java")))
      .map(p => p.toString.replace('\\', '/') -> Files.readString(p)).toList
    finally s.close()
  }

  /** The name of the last `def` that starts before `at` in `text`. */
  private def enclosingDef(text: String, at: Int): String =
    text.substring(text.lastIndexOf("def ", at) + 4).takeWhile(c => c != '(' && c != '[').trim

  test("schema-less parquet reads go through ParquetIO.read; fs.file.impl only in its writer") {
    val sources = mainSources
    assert(sources.size > 50)
    // a `.read` chain ending in `.parquet(` (or a parquet `.load(`) with no
    // explicit schema; warm's plain read shows the pattern finds one
    val chain =
      """\.read\b((?:\s*\.\s*\w+\((?:[^()]|\([^()]*\))*\))*?)\s*\.\s*(parquet|load)\(""".r
    val reads = for {
      (path, text) <- sources
      m <- chain.findAllMatchIn(text)
      calls = m.group(1)
      if m.group(2) == "parquet" || calls.contains("format(\"parquet\")")
      if !calls.contains("schema(") && !calls.contains("mergeSchema")
    } yield path -> enclosingDef(text, m.start)
    assert(reads.toSet === Set(
      "src/main/scala/graft/GraftSession.scala" -> "warm"))
    val implHits = for {
      (path, text) <- sources
      m <- java.util.regex.Pattern.quote("fs.file.impl").r.findAllMatchIn(text)
    } yield path -> enclosingDef(text, m.start)
    assert(implHits.nonEmpty && implHits.toSet ===
      Set("src/main/scala/graft/io/ParquetIO.scala" -> "writer"))
  }

  test("footers are read without opening a ParquetFileReader") {
    val opens = for {
      (path, text) <- mainSources
      m <- """ParquetFileReader\s*\.\s*open\b""".r.findAllMatchIn(text)
    } yield path -> enclosingDef(text, m.start)
    assert(opens.isEmpty, s"ParquetFileReader.open under src/main: $opens")
  }

  test("one footer layer: only Footers reads footers; no deprecated reader, conf bridge or stat-file cap") {
    val sources = mainSources
    def files(pattern: String): Set[String] =
      sources.collect { case (path, text) if pattern.r.findFirstIn(text).isDefined => path }.toSet
    assert(files("""ParquetFileReader\s*\.\s*readFooter\b""").isEmpty)
    assert(files("""\bParquetFooterReader\b""") ===
      Set("src/main/scala/org/apache/spark/sql/graft/Footers.scala"))
    assert(files("""\bHadoopConfBridge\b""").isEmpty)
    assert(files("""\bMaxStatFiles\b""").isEmpty)
  }
}
