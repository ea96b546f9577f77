package perfbench

import java.io.{File, PrintWriter}

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point.
  *
  *   run <workload> <seed> <seconds> <trace 0|1> <workDir> <rawJson>
  *   gen <workload> <seed> <outDir>
  *
  * `run` sets the workload up (session start, input generation, table and
  * index bootstrap, warm-up cycles), then drives its rounds one after
  * another from this thread: a fixed number of whole cycles, set by
  * `seconds` and the workload's nominal cycle time, so every run measures
  * the same operations on any host. It writes every raw sample to
  * `rawJson`; the metrics are computed from that file by `run.py`. */
object Main {
  def workload(name: String): Workload = name match {
    case "aqp_prep" => new Aqp(AqpScale(fact = 200000L, orders = 50000L, parts = 10000L,
      customers = 5000L, events = 50000L))
    case "txlog_churn" => new TxChurn(TxScale(rows = 100000L, append = 500L, upsert = 100L,
      delete = 100L, cdc = 50L))
    case "index_follow" => new IndexFollow(IxScale(docs = 1200L, batch = 30L))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(dir: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("run", name, seed, seconds, trace, work, raw) =>
      runMain(name, seed.toLong, seconds.toDouble, trace == "1", work, raw)
    case Seq("gen", name, seed, out) =>
      val spark = session(s"$out.work")
      try {
        val g = new Gen(spark, seed.toLong)
        val tables = name match {
          case "aqp_prep" => g.aqp(out, Main.workload(name).asInstanceOf[Aqp].scale)
          case "txlog_churn" => g.txlog(out, Main.workload(name).asInstanceOf[TxChurn].scale)
          case _ => g.index(out, Main.workload(name).asInstanceOf[IndexFollow].scale)
        }
        tables.foreach { case (t, p) => println(s"$t\t${spark.read.parquet(p).count()}") }
      } finally spark.stop()
    case _ =>
      System.err.println("usage: run <workload> <seed> <seconds> <trace> <workDir> <rawJson> | " +
        "gen <workload> <seed> <outDir>")
      sys.exit(2)
  }

  def runMain(name: String, seed: Long, seconds: Double, traced: Boolean, work: String,
      raw: String): Unit = {
    // set-up: session start, input generation, table and index bootstrap,
    // and the warm-up cycles, whose answers are checked but not recorded
    val t0 = System.nanoTime()
    val wl = workload(name)
    val cycles = math.max(1L, math.round(seconds / wl.cycleSeconds)).toInt
    val warmup = wl.cycle * wl.warmupCycles
    val rounds = warmup + wl.cycle * cycles
    require(rounds <= wl.maxRounds, s"$name: $seconds s needs $rounds rounds, inputs hold ${wl.maxRounds}")
    val run = new Run(session(work), new Trace(false), seed, s"$work/run")
    val t1 = System.nanoTime()
    wl.setup(run)
    val t2 = System.nanoTime()
    (0 until warmup).foreach(wl.round(run, _))
    val t3 = System.nanoTime()
    val phases = Seq(t1 - t0, t2 - t1, t3 - t2).map(_ / 1e9)

    val listener = if (traced) Some(JobListener.register(run.spark.sparkContext)) else None
    run.trace = new Trace(traced)
    run.recording = true
    val loopStart = Trace.nowUs()
    (warmup until rounds).foreach { i =>
      run.round = i
      wl.round(run, i)
    }
    val loopEnd = Trace.nowUs()
    run.recording = false
    val (stored, user) = wl.storage(run)
    listener.foreach(_.settle())
    System.gc(); Thread.sleep(200); System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

    import Json._
    val out = obj(Seq(
      "workload" -> str(name), "seed" -> seed.toString, "trace" -> traced.toString,
      "cores" -> Runtime.getRuntime.availableProcessors().toString,
      "setup_s" -> num((t3 - t0) / 1e9),
      "setup_phases_s" -> arr(phases.map(num)),
      "loop_start_us" -> loopStart.toString, "loop_end_us" -> loopEnd.toString,
      "rounds" -> (rounds - warmup).toString, "cycle" -> wl.cycle.toString,
      "timed_s" -> num(run.timedNs / 1e9),
      "heap_mb" -> num(mem / 1048576.0),
      "stored_bytes" -> stored.toString, "user_bytes" -> user.toString,
      "ops" -> arr(run.ops.toSeq.map(o => obj(Seq("round" -> o.round.toString, "kind" -> str(o.kind),
        "cls" -> str(o.cls), "s" -> num(o.secs), "ok" -> o.ok.toString,
        "err" -> str(o.err))))),
      "recall" -> arr(run.recall.toSeq.map { case (kd, v) =>
        obj(Seq("kind" -> str(kd), "value" -> num(v))) }),
      "spans" -> arr(run.trace.all.filter(_.startUs >= loopStart).map(s => obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> str(s.name),
        "start_us" -> s.startUs.toString, "end_us" -> s.endUs.toString,
        "attrs" -> obj(s.attrs.toSeq.sortBy(_._1).map { case (a, v) => a -> num(v) }))))),
      "jobs" -> arr(listener.toSeq.flatMap(_.all).filter(_.startMs * 1000L >= loopStart / 1000L * 1000L)
        .map(j => obj(Seq(
        "id" -> j.id.toString, "start_ms" -> j.startMs.toString, "end_ms" -> j.endMs.toString,
        "tasks" -> j.tasks.toString, "run_ms" -> j.runMs.toString, "gc_ms" -> j.gcMs.toString,
        "in_bytes" -> j.inBytes.toString, "in_records" -> j.inRecords.toString,
        "shuffle_read" -> j.shuffleRead.toString, "shuffle_write" -> j.shuffleWrite.toString,
        "spill" -> j.spill.toString))))))
    val w = new PrintWriter(raw)
    try w.println(out) finally w.close()
    run.spark.stop()
  }
}
