package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("graft-bench", GraftSession.cpus)
    GraftSession.warm(spark, sfDir)
    // Min-of-N passes per query: a shared host can steal cores mid-run and
    // uniformly inflate sub-second queries 4-5x (observed round 2). The min
    // across passes is the contention-robust statistic — it reflects what the
    // plan actually costs when the machine is available, which is the number
    // that transfers to a dedicated cluster.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt.max(1)

    // Measured shuffle-write / spill bytes per query (evidence for the
    // plan audit: a query whose plan LOOKS shuffle-light should MEASURE
    // shuffle-light). Task-end events are async; `settle` waits for the
    // counters to go quiet between queries so attribution doesn't bleed.
    // The settle runs OUTSIDE the timed window — timings are unaffected.
    // Streaming-gate queries report ~0 (their work happens inside the
    // stream drain's own session machinery, before the returned sink table
    // is counted).
    val shuffleB = new java.util.concurrent.atomic.AtomicLong(0)
    val spillB = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          shuffleB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          spillB.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
        }
      }
    })
    def settle(): (Long, Long) = {
      var prev = (-1L, -1L)
      var cur = (shuffleB.get, spillB.get)
      var tries = 0
      while (cur != prev && tries < 50) {
        prev = cur; Thread.sleep(20); cur = (shuffleB.get, spillB.get); tries += 1
      }
      cur
    }

    // optional comma-separated filter for targeted per-query timing during
    // development; the committed round evidence always runs the full map
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    // The watermark-drain streaming family rolls one random ~2x outlier per
    // full run (four-run evidence, round 7): a shared-host noise window of
    // ~10-15s spans ALL of one query's consecutive passes, so min-of-3
    // cannot escape it. Extra passes stretch the query's wall coverage past
    // the window — the min recovers; everything else keeps the cheaper
    // default. Latency-bound drains (many tiny sequential micro-batch
    // commits), not a plan property.
    val noisyStream = Set("q88_stream_funnel", "q89_stream_ingest_filter",
      "q134_stream_topk", "q164_stream_interval_outer", "q189_stream_cdc",
      "q157_stream_drift") // same pathology, identified by the r8 3-run evidence
    val errored = scala.collection.mutable.LinkedHashSet[String]()
    val results = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .map { case (name, fn) =>
      val (sw0, sp0) = settle()
      val nPasses = if (noisyStream(name)) passes.max(5) else passes
      val times = (1 to nPasses).map { _ =>
        val t0 = System.nanoTime()
        // a throwing query still records its wall time but is NAMED in the
        // detail's errors list — a fake timing must never read as evidence
        try { fn(spark, sfDir).count() } catch { case _: Throwable => errored += name; -1L }
        (System.nanoTime() - t0) / 1e9
      }
      val (sw1, sp1) = settle()
      name -> ((times.min, (sw1 - sw0).toDouble / nPasses / 1e6,
        (sp1 - sp0).toDouble / nPasses / 1e6, nPasses))
    }
    val total = if (results.nonEmpty) results.values.map(_._1).sum else 0.0
    val totalShuffleMb = results.values.map(_._2).sum
    val totalSpillMb = results.values.map(_._3).sum
    // Short standalone total line FIRST and LAST: the full per-query blob is
    // one long line that can overflow a bounded output capture (head or
    // tail), truncating whichever end the headline sits on — a short
    // self-contained line on BOTH sides survives either capture direction.
    val headline =
      s"""{"metric":"total","value":$total,"unit":"sec","passes":$passes,"n_queries":${results.size},"shuffle_mb":${math.round(totalShuffleMb)},"spill_mb":${math.round(totalSpillMb)},"sf":"$sfDir"}"""
    println(headline)
    // per-query detail, rounded to 0.1 ms / 0.1 MB so the line stays small
    val qs = results.map { case (k, (v, _, _, _)) => s"\"" + k + "\":" + math.round(v * 1e4) / 1e4 }
      .mkString("{", ",", "}")
    val sm = results.map { case (k, (_, s, _, _)) => s"\"" + k + "\":" + math.round(s * 10) / 10.0 }
      .mkString("{", ",", "}")
    val spm = results.map { case (k, (_, _, p, _)) => s"\"" + k + "\":" + math.round(p * 10) / 10.0 }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"shuffle_mb":$sm,"spill_mb":$spm,"passes":$passes,"sf":"$sfDir"}""")
    println(headline)
    // The driver's stdout tail capture is bounded (~2000 chars) — the
    // per-query line above doesn't survive it. Persist the full detail to a
    // committed file so cross-round per-query regression tracking works
    // from repo evidence alone.
    // nPasses is recorded PER QUERY: the watermark-drain family runs
    // min-of-5 while everything else runs min-of-`passes` — the asymmetry
    // must be visible in the evidence, not just in a source comment
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
    val detail = results.map { case (k, (v, s, p, np)) =>
      s"""    "$k": {"sec": ${math.round(v * 1e4) / 1e4}, "shuffle_mb": ${math.round(s * 10) / 10.0}, "spill_mb": ${math.round(p * 10) / 10.0}, "passes": $np}"""
    }.mkString(",\n")
    val errJson = errored.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json =
      s"""{
         |  "metric": "total", "value": $total, "unit": "sec",
         |  "passes": $passes, "n_queries": ${results.size},
         |  "shuffle_mb": ${math.round(totalShuffleMb)}, "spill_mb": ${math.round(totalSpillMb)},
         |  "sf": "$sfDir",
         |  "errors": $errJson,
         |  "queries": {
         |$detail
         |  }
         |}""".stripMargin
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"bench detail -> $detailPath")
    } catch { case e: Exception => println(s"bench detail write failed: $e") }
    spark.stop()
  }
}
