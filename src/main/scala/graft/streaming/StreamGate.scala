package graft.streaming

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/**
 * Runs the Structured Streaming operators ([[StreamOps]]) as finite,
 * deterministic queries so they can sit in the driver's DuckDB-oracle
 * correctness gate next to the batch operators (the reference is batch-only;
 * SURVEY.md §2.2 "Streaming: none" — this is the extension surface exercised
 * end-to-end, not just spec-tested).
 *
 * Mechanics: the single-file `events.parquet` fixture is staged into a
 * directory (the file streaming source lists directories), streamed with
 * `Trigger.AvailableNow`, and drained into a memory sink; the sink table is
 * returned as a plain DataFrame. Everything the batch gate needs —
 * deterministic rows, stable column names — is preserved by construction:
 * aggregates run in complete mode (no watermark-withheld windows) with
 * decimal sums, and sessionization gets a per-user far-future sentinel event
 * in a SECOND staged file so the event-time watermark provably passes every
 * real session's close (the emitted set is then exactly the batch
 * session_window islands, an exact SQL oracle — no "maybe the last session
 * is still open" slack).
 */
object StreamGate {

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  // one ts-normalized rewrite per source fixture per JVM; every staging
  // then copies the cached file (a byte copy, not a Spark job)
  private val normalizedEvents = new java.util.concurrent.ConcurrentHashMap[String, Path]()

  private def normalizedEventsFile(sfDir: String): Path =
    normalizedEvents.computeIfAbsent(sfDir, { _ =>
      val spark = SparkSession.active
      val tmp = graft.io.TempDirs.create("graft_events_norm")
      graft.io.ParquetIO.tsToNanos(graft.io.ParquetIO.read(spark, s"$sfDir/events.parquet"))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val listing = Files.list(tmp)
      try listing.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally listing.close()
    })

  /** Stage `<sfDir>/events.parquet` into a fresh directory with `ts`
    * normalized to long epoch nanos (the [[StreamOps.eventsSchema]]
    * contract — the on-disk fixture's timestamp flavor varies across data
    * generations, see [[graft.io.ParquetIO.tsToNanos]]); mtime is set
    * 60s in the past so later-staged sentinel files reliably sort AFTER it
    * in the file source's modification-time order. */
  private[graft] def stageEventsDir(sfDir: String): Path = {
    val dir = graft.io.TempDirs.create("graft_stream_events")
    Files.copy(normalizedEventsFile(sfDir), dir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(dir.resolve("events.parquet"),
      FileTime.fromMillis(System.currentTimeMillis() - 60000))
    dir
  }

  /** Stage any single-file parquet fixture into a fresh directory for the
    * file streaming source. */
  private def stageTableDir(sfDir: String, table: String): Path = {
    val dir = graft.io.TempDirs.create(s"graft_stream_$table")
    Files.copy(Paths.get(s"$sfDir/$table.parquet"), dir.resolve(s"$table.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    dir
  }

  /** Drain a finite stream into a uniquely-named memory sink and return the
    * sink table. AvailableNow processes every staged file (respecting
    * maxFilesPerTrigger batch boundaries) and then terminates. */
  def runToTable(df: DataFrame, prefix: String, mode: String): DataFrame = {
    val spark = df.sparkSession
    val name = s"${prefix}_${counter.incrementAndGet()}"
    // a stream's state parallelism is pinned at checkpoint creation from
    // spark.sql.shuffle.partitions, and every micro-batch commits one state
    // store per partition — for these finite replays (few distinct keys, a
    // handful of batches) 8 partitions cuts the fixed commit I/O 4x vs the
    // session's batch setting; production streams size this to key
    // cardinality x throughput instead. Restored right after the drain.
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = df.writeStream.outputMode(mode).format("memory").queryName(name)
        .trigger(Trigger.AvailableNow()).start()
      if (!q.awaitTermination(300000)) {
        q.stop()
        throw new IllegalStateException(
          s"stream drain '$name' did not finish within 300s — refusing to " +
            "return a partially-filled sink table")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    spark.table(name)
  }

  /**
   * Streaming hourly windowed aggregation, complete mode (every window
   * emitted — append would withhold windows the watermark hasn't passed).
   * Decimal sum -> double for bit-stable totals under any row order.
   */
  def hourlyAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stageEventsDir(sfDir)
    val ev = StreamOps.withEventTime(
      StreamOps.eventsStream(spark, dir.toString, maxFilesPerTrigger = 1))
    val agg = ev
      .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(15,2)")).cast("double").as("sum_value"))
      .select(expr("unix_micros(window.start) div 1000000").as("bucket_s"),
        col("event_type"), col("n_events"), col("sum_value"))
    runToTable(agg, "stream_hourly", "complete")
  }

  /**
   * Streaming corpus curation: the stateless quality/lang-id/PII projection
   * and filter applied to a document stream in append mode. Per-row with no
   * state or watermark, so the emitted set is EXACTLY the batch projection
   * of the same file — the strongest streaming-vs-batch parity the gate can
   * express, and the shape a production ingest filter runs as (each arriving
   * file is scored and filtered as it lands).
   */
  def corpusFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stageTableDir(sfDir, "documents")
    val schema = graft.io.ParquetIO.read(spark, s"$sfDir/documents.parquet").schema
    val docs = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
    val scored = graft.ext.TextStats.qualityScore(
      graft.ext.TextStats.langId(docs, "text"), "text")
    val out = graft.ext.CorpusFilters.piiScan(scored, "text")
      .filter(col("quality_score") >= 0.3 && col("pii_total") === 0)
      .select(col("doc_id"), col("lang_pred"), col("quality_score"))
    runToTable(out, "stream_corpus", "append")
  }

  /**
   * Streaming hash-split routing: the deterministic md5 train/val/test
   * assignment applied to a document stream in append mode. Stateless and
   * a pure function of each row's id, so the emitted assignment is EXACTLY
   * the batch assignment of the same file (the q58 SQL oracle re-checks it
   * row for row) — the shape a production ingest router runs as: every
   * arriving shard routes with no coordination, state, or watermark.
   */
  def hashSplitRoute(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stageTableDir(sfDir, "documents")
    val schema = graft.io.ParquetIO.read(spark, s"$sfDir/documents.parquet").schema
    val docs = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
    val routed = graft.ext.CorpusFilters.hashSplit(docs, "doc_id",
      Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .select(col("doc_id"), col("split_bucket"), col("split"))
    runToTable(routed, "stream_split", "append")
  }

  /**
   * Streaming per-group top-k: the portable-rank bottom-k sketch
   * ([[graft.functions.bottom_k_by_rank]]) running as STREAMING aggregation
   * state — each micro-batch's partial sketches merge into the state store
   * exactly as map-side partials merge in batch (the aggregate is
   * mergeable and order-independent by construction), so the final
   * complete-mode table equals the batch selection EXACTLY and the q15-
   * style md5-window oracle re-checks it row for row. The production
   * shape: a continuously-arriving corpus maintaining "k sample docs per
   * (lang, source)" with O(k) state per group.
   */
  def topKPerGroup(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stageTableDir(sfDir, "documents")
    val schema = graft.io.ParquetIO.read(spark, s"$sfDir/documents.parquet").schema
    val docs = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
    val ranked = docs.groupBy(col("lang"), col("source"))
      .agg(graft.functions.bottom_k_by_rank(
        graft.operators.Sampler.hexRank("42", col("doc_id")),
        col("doc_id"), 3).as("__ids"))
    val out = ranked.select(col("lang"), col("source"), explode(col("__ids")).as("doc_id"))
    runToTable(out, "stream_topk", "complete")
  }

  /** Streaming exact dedup on a key column; only the key survives to the
    * output (WHICH physical row wins per key is arrival-order-dependent, the
    * key set itself is exact — the oracle is SELECT DISTINCT). */
  def dedupKeys(spark: SparkSession, sfDir: String, keyCol: String): DataFrame = {
    val dir = stageEventsDir(sfDir)
    val deduped = StreamOps.dedupStream(
      StreamOps.eventsStream(spark, dir.toString, maxFilesPerTrigger = 1), Seq(keyCol))
    runToTable(deduped.select(col(keyCol)), "stream_dedup", "append")
  }

  /**
   * Streaming sessionization with a deterministic, oracle-exact emitted set.
   *
   * flatMapGroupsWithState only emits a session once the event-time
   * watermark passes its close; a finite stream would leave each user's last
   * session open (or flushed "sometimes", depending on no-data batches). A
   * second staged file holds one far-future sentinel event per user, so:
   *  - batch 1 (events): all real sessions enter state,
   *  - batch 2 (sentinels): the watermark jumps past every real close; each
   *    user's sentinel closes their last real session by gap,
   *  - sentinel sessions themselves are filtered out by their start time.
   * Emitted set == ALL batch session_window islands, exactly.
   *
   * sum_value is intentionally not projected: it accumulates in per-batch
   * iterator order, whose float addition order is not deterministic across
   * runs; bounds and counts are.
   */
  /** Stage events + a second file of one far-future sentinel event per user
    * (mtime-ordered AFTER the real events). Returns (dir, sentinelTs). */
  private def stageEventsWithSentinels(spark: SparkSession, sfDir: String): (Path, Long) = {
    val dir = stageEventsDir(sfDir)
    // sentinel = max real ts + ~1 year, one per user, staged AFTER events
    val batchEvents = StreamOps.batchEvents(spark, s"$sfDir/events.parquet")
    val maxTs = batchEvents.agg(max(col("ts"))).head().getLong(0)
    val sentinelTs = maxTs + 365L * 24 * 3600 * 1000000000L
    val sentinels = batchEvents.select(col("user_id")).distinct()
      .select(
        lit(-1L).as("event_id"), lit(sentinelTs).as("ts"), col("user_id"),
        lit("__sentinel").as("event_type"), lit(0.0).as("value"), lit(null).cast("string").as("props"))
    val sentinelDir = graft.io.TempDirs.create("graft_stream_sentinel")
    sentinels.coalesce(1).write.mode("overwrite").parquet(sentinelDir.toString)
    val listing = Files.list(sentinelDir)
    val part =
      try listing.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally listing.close()
    val target = dir.resolve("zzz_sentinel.parquet")
    Files.copy(part, target, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(target, FileTime.fromMillis(System.currentTimeMillis()))
    (dir, sentinelTs)
  }

  def sessions(spark: SparkSession, sfDir: String): DataFrame = {
    val (dir, sentinelTs) = stageEventsWithSentinels(spark, sfDir)
    val sessions = StreamOps.sessionizeStream(
      StreamOps.eventsStream(spark, dir.toString, maxFilesPerTrigger = 1))
    runToTable(sessions.toDF(), "stream_sessions", "append")
      .filter(col("session_start_us") < sentinelTs / 1000)
      .select(col("session_start_us"), col("session_end_us"), col("user_id"), col("n_events"))
  }

  /**
   * Streaming conversion funnel ([[StreamOps.funnelStream]]): per-user
   * custom-state machine, flushed by the per-user sentinel file; the
   * emitted per-user stages aggregate to EXACTLY the batch q113 counts
   * (in-event-time-order "first qualifying" == batch "min qualifying").
   * Sentinels only flush — a sentinel never advances a funnel, so no
   * start-time filter is needed.
   */
  def funnel(spark: SparkSession, sfDir: String): DataFrame = {
    val (dir, _) = stageEventsWithSentinels(spark, sfDir)
    val stages = StreamOps.funnelStream(
      StreamOps.eventsStream(spark, dir.toString, maxFilesPerTrigger = 1))
    runToTable(stages.toDF(), "stream_funnel", "append")
      .groupBy(col("funnel_stage"))
      .agg(count(lit(1)).as("n_users"))
  }

  /**
   * Streaming incremental-ingest filter: a document stream anti-joins
   * against the STATIC corpus fingerprint set (stream-static LEFT ANTI —
   * the join mode a continuously-fed corpus gate runs: admit only docs
   * whose content is not already ingested). Stateless per row, so the
   * emitted set is EXACTLY the batch anti join — an exact SQL oracle.
   * The static side re-plans per micro-batch, picking up corpus growth.
   */
  def ingestFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stageTableDir(sfDir, "documents")
    val schema = graft.io.ParquetIO.read(spark, s"$sfDir/documents.parquet").schema
    val batchDocs = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
      .filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"),
        graft.ext.Dedup.contentFingerprint(col("text")).as("__fp"))
    val corpusFps = graft.io.ParquetIO.read(spark, s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 10 =!= 0)
      .select(graft.ext.Dedup.contentFingerprint(col("text")).as("__fp"))
      .distinct()
    val admitted = batchDocs.join(corpusFps, Seq("__fp"), "left_anti")
      .select(col("doc_id"))
    runToTable(admitted, "stream_ingest", "append")
  }

  /**
   * Streaming NEAR-dup admission gate — the LSH sibling of [[ingestFilter]]
   * (exact fingerprints) over the persistable [[graft.ext.Dedup.MinhashIndex]]:
   * the corpus' band table is built ONCE (statically; in production, loaded
   * via `loadMinhashIndex` from the last ingest's artifact) and each
   * micro-batch hashes only itself, band-joins the index, verifies exact
   * Jaccard, and admits docs with no verified match. Runs in `foreachBatch`
   * (the per-batch logic is a multi-step batch plan — candidate join +
   * verify + anti join — not a single streaming-supported operator tree).
   * Admission is per-doc against the STATIC index only, so the admitted
   * set equals the batch [[graft.ext.Dedup.ingestNearDupPairs]] anti join
   * exactly under any batching (spec-pinned); LSH pair sets keep it off
   * the SQL oracle (the q41/q260 precedent).
   */
  def nearDupGate(spark: SparkSession, sfDir: String, threshold: Double = 0.8): DataFrame = {
    import graft.ext.Dedup
    val schema = graft.io.ParquetIO.read(spark, s"$sfDir/documents.parquet").schema
    val dir = stageTableDir(sfDir, "documents")
    val corpus = graft.io.ParquetIO.read(spark, s"$sfDir/documents.parquet")
    val idx = Dedup.buildMinhashIndex(corpus, "doc_id", "text")
    // admission mix: every 7th doc resubmitted under a new id (must be
    // rejected as an exact/near dup) alongside genuinely novel docs
    // (md5-derived text the corpus cannot match -> must be admitted)
    val batch = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
      .filter(col("doc_id") % 7 <= 1)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        when(col("doc_id") % 7 === 1,
          md5(col("doc_id").cast("string").cast("binary")))
          .otherwise(col("text")).as("text"))
    val out = graft.io.TempDirs.create("graft_stream_neardup").toString
    val q = batch.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val matched = Dedup.ingestNearDupPairs(b, "doc_id", "text", idx, threshold)
          .select(col("batch_id").as("doc_id")).distinct()
        b.join(matched, Seq("doc_id"), "left_anti").select(col("doc_id"))
          .write.mode("append").parquet(out)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    if (!q.awaitTermination(300000)) {
      q.stop()
      throw new IllegalStateException("near-dup gate drain did not finish within 300s")
    }
    graft.io.ParquetIO.read(spark, out)
  }

  /** Stream-stream interval join (see [[StreamOps.clickBeforePurchaseJoin]]);
    * inner join -> the emitted pair set is exact under any batching. */
  def intervalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stageEventsDir(sfDir)
    val joined = StreamOps.clickBeforePurchaseJoin(
      StreamOps.eventsStream(spark, dir.toString, maxFilesPerTrigger = 1))
    runToTable(joined, "stream_interval_join", "append")
  }

  /**
   * Stream-stream LEFT OUTER interval join
   * ([[StreamOps.clickPurchaseLeftOuter]]): outer (no-conversion) rows only
   * emit once the watermark proves no match can arrive, so the per-user
   * far-future sentinel file is what makes a finite stream flush them all —
   * after it, the emitted set equals the batch LEFT OUTER join exactly
   * (sentinel events advance the watermark inside the join's inputs and
   * are dropped by the event-type filters before they can join).
   */
  def intervalJoinOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val (dir, _) = stageEventsWithSentinels(spark, sfDir)
    val joined = StreamOps.clickPurchaseLeftOuter(
      StreamOps.eventsStream(spark, dir.toString, maxFilesPerTrigger = 1))
    runToTable(joined, "stream_interval_outer", "append")
  }

  /**
   * Stream-static join: the stream enriches against a BATCH DataFrame (here
   * a per-user lifetime-value aggregate computed from the same table's
   * batch read). The static side re-plans per micro-batch (picking up
   * updates) and broadcasts when small — the standard dimension-enrichment
   * pattern. Inner join on a deterministic static side -> exact output.
   */
  def staticJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stageEventsDir(sfDir)
    val userStats = StreamOps.batchEvents(spark, s"$sfDir/events.parquet")
      .groupBy(col("user_id"))
      .agg(sum(col("value").cast("decimal(15,2)")).as("user_ltv"),
        count(lit(1)).as("user_events"))
    val purchases = StreamOps.eventsStream(spark, dir.toString, maxFilesPerTrigger = 1)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"))
    val joined = purchases.join(userStats, "user_id")
      .select(col("event_id"), col("user_id"),
        col("user_ltv").cast("double").as("user_ltv"), col("user_events"))
    runToTable(joined, "stream_static_join", "append")
  }

  /**
   * Streaming distribution-drift monitor: maintain per-hour event-type
   * counts as streaming state (the [[hourlyAgg]] machinery, complete
   * mode — so the emitted counts equal the batch group-by EXACTLY), then
   * score each hour's type mix against the whole stream's mix by total
   * variation distance. The TVD numerator stays in INTEGER cross-products
   * (|n_ht*n − n_t*n_h| summed over types — order-independent), with ONE
   * final double division, so the drift scores are bit-reproducible
   * cross-engine — the alerting metric a production ingest pipeline
   * watches for upstream mix shifts.
   */
  def driftMonitor(spark: SparkSession, sfDir: String): DataFrame = {
    val h = hourlyAgg(spark, sfDir)
      .select(col("bucket_s"), col("event_type"), col("n_events").as("n_ht"))
    // distinct key names on the aggregate sides: all three aggregates
    // descend from the same sink table, so joining back on the original
    // grouping attributes would hit conflicting references
    val hourTot = h.groupBy(col("bucket_s")).agg(sum(col("n_ht")).as("n_h"))
      .select(col("bucket_s").as("hb"), col("n_h"))
    val typeTot = h.groupBy(col("event_type")).agg(sum(col("n_ht")).as("n_t"))
      .select(col("event_type").as("te"), col("n_t"))
    val tot = h.agg(sum(col("n_ht")).as("n"))
    // full hour x type grid: a type absent from an hour still contributes
    // |0*n - n_t*n_h| to that hour's distance
    val grid = hourTot.crossJoin(typeTot)
      .join(h, col("hb") === col("bucket_s") && col("te") === col("event_type"), "left")
      .select(col("hb").as("bucket_s"),
        coalesce(col("n_ht"), lit(0L)).as("n_ht"),
        col("n_h"), col("n_t"))
      .crossJoin(tot)
    grid.groupBy(col("bucket_s"))
      .agg(min(col("n_h")).as("n_h"),
        sum(abs(col("n_ht") * col("n") - col("n_t") * col("n_h"))).as("tvd_num"),
        min(col("n")).as("__n"))
      .select(col("bucket_s"), col("n_h"), col("tvd_num"),
        (col("tvd_num").cast("double") / (lit(2.0) * col("__n") * col("n_h"))).as("tvd"))
  }

  /** Streaming content-hash Bernoulli sample (retry-stable acceptance). */
  def sample(spark: SparkSession, sfDir: String, ratio: Double, seed: Long): DataFrame = {
    val dir = stageEventsDir(sfDir)
    val sampled = StreamOps.sampleStream(
      StreamOps.eventsStream(spark, dir.toString, maxFilesPerTrigger = 1), ratio, seed)
    runToTable(sampled, "stream_sample", "append")
  }

  /** Stage a fixture split across `parts` files so the file source replays
    * it as `parts` micro-batches (maxFilesPerTrigger=1) — proving state
    * genuinely merges ACROSS batches, not within one. */
  // memoized per (sfDir, table, parts): unlike the sentinel-appending
  // event stages, the split fixtures are READ-ONLY stream sources, and the
  // full read+repartition+write (lineitem = the largest staged table) was
  // dominating q234/q189/q222's measured time — bench passes were timing
  // fixture staging, not the streaming query (the normalizedEventsFile /
  // ShingleIndex precedent)
  private val splitDirCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int), Path]()
  private def stageTableDirSplit(sfDir: String, table: String, parts: Int): Path =
    splitDirCache.computeIfAbsent((sfDir, table, parts), { _ =>
      val dir = graft.io.TempDirs.create(s"graft_stream_$table")
      graft.io.ParquetIO.read(SparkSession.active, s"$sfDir/$table.parquet")
        .repartition(parts).write.mode("overwrite").parquet(dir.toString)
      dir
    })

  /**
   * Streaming CDC snapshot (complete mode): the orders change feed arrives
   * over several micro-batches; per key the state keeps only the
   * max-(version, tiebreak) change as ONE struct-max aggregate — O(keys)
   * state, no per-change retention — and the final table filters the
   * tombstone winners. The emitted snapshot equals the batch
   * [[graft.operators.Ingest.cdcApply]] exactly under ANY batching (the
   * struct max is order-free), so q189 shares q186's oracle verbatim.
   */
  /**
   * Streaming k-anonymity enforcement gate: the violating-class relation
   * is profiled OFFLINE from the reference extract (the realistic
   * deployment — the release audit runs in batch, the gate enforces it on
   * the live feed), then every incoming row in a sub-k class drops via a
   * broadcast stream-static LEFT ANTI join. Same semantics as
   * [[graft.ext.Privacy.suppress]] on the batch table — the oracle and
   * spec pin the equality — with O(classes) static state and zero
   * streaming state.
   */
  def privacyGate(spark: SparkSession, sfDir: String, k: Int = 8): DataFrame = {
    val dir = stageTableDir(sfDir, "customer")
    val batch = graft.io.ParquetIO.read(spark, s"$sfDir/customer.parquet")
    val violating = batch.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("__n")).filter(col("__n") < k)
      .select(col("c_nationkey").as("__vn"), col("c_mktsegment").as("__vs"))
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    // null-safe <=> to match Privacy.suppress exactly: a NULL quasi
    // column is a quasi-identifier class of its own and must suppress
    // when sub-k — a plain === would never match the NULL class
    val kept = stream.join(broadcast(violating),
      stream("c_nationkey") <=> col("__vn") &&
        stream("c_mktsegment") <=> col("__vs"), "left_anti")
    runToTable(kept.select(col("c_custkey"), col("c_nationkey"),
      col("c_mktsegment")), "stream_privacy_gate", "append")
  }

  def cdcSnapshot(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stageTableDirSplit(sfDir, "orders", parts = 3)
    val schema = graft.io.ParquetIO.read(spark, s"$sfDir/orders.parquet").schema
    val orders = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
    val changes = orders.select(col("o_custkey"),
      struct(col("o_orderdate"), col("o_orderkey"), col("o_totalprice"),
        when(col("o_orderstatus") === "F", "D").otherwise("U").as("op")).as("__c"))
    val latest = changes.groupBy(col("o_custkey"))
      .agg(max(col("__c")).as("__w"))
      .filter(col("__w.op") =!= "D")
      .select(col("o_custkey"), col("__w.o_orderkey").as("o_orderkey"),
        col("__w.o_totalprice").as("o_totalprice"), col("__w.op").as("op"))
    runToTable(latest, "stream_cdc", "complete")
  }

  /**
   * Streaming quantile monitor: a per-type DDSketch aggregates across
   * micro-batches (bucket-count merges are order-free, so the drained
   * sketch is IDENTICAL to the batch sketch), then the drained table joins
   * the batch-exact percentiles — p50/p90 pinned inside the alpha=1%
   * envelope, counts exact (the q180 contract, live on a stream).
   */
  /**
   * Streaming rolling-window distinct actives (the live WAU curve): each
   * event explodes to the `windowDays` target days it covers (the
   * [[graft.ext.EventAnalytics.rollingDistinctUsers]] shape) and a
   * DataSketches HLL aggregate per day maintains the distinct-user state
   * across micro-batches — exact distinct over a stream would need
   * unbounded per-day user sets; the HLL union is the streaming-safe
   * O(sketch) state, order-free, so the drained complete-mode table is
   * identical under any batching. The gate joins the drained estimates
   * to the BATCH-exact counts and pins the ±5% HLL contract per day (the
   * q145 discipline): exact counts ride the hash oracle, the sketch ships
   * its accuracy guarantee as a pinned boolean.
   */
  def rollingActives(spark: SparkSession, sfDir: String, windowDays: Int = 7): DataFrame = {
    val dir = stageEventsDir(sfDir)
    val ev = StreamOps.eventsStream(spark, dir.toString, maxFilesPerTrigger = 1)
    val exp = ev.select(
      explode(sequence(expr("ts div 86400000000000"),
        expr("ts div 86400000000000") + (windowDays - 1))).as("day"),
      col("user_id"))
    val agged = exp.groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val drained = runToTable(agged, "stream_actives", "complete")
    val exact = graft.ext.EventAnalytics.rollingDistinctUsers(
      StreamOps.batchEvents(spark, s"$sfDir/events.parquet"),
      "user_id", "ts", windowDays)
    // inner join clips the explode's past-the-horizon days to observed ones
    exact.join(drained, "day")
      .select(col("day"), col("n_users"),
        (abs(hll_sketch_estimate(col("sk")).cast("double") -
          col("n_users").cast("double")) <=
          lit(0.05) * col("n_users").cast("double")).as("hll_ok"))
  }

  /**
   * Streaming corpus-mix diversity: the documents stream over 3
   * micro-batches, per-(source, lang) counts as complete-mode state
   * (integer counts are order-free ⇒ the drained cell table equals the
   * batch cells under ANY batching), then the exact
   * [[graft.ext.CorpusFilters.giniMixReport]] rollup on the drained
   * table — so q222 shares q218's oracle verbatim (the q189/q186
   * discipline).
   */
  def giniMonitor(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stageTableDirSplit(sfDir, "documents", parts = 3)
    val docs = spark.readStream
      .schema(graft.io.ParquetIO.read(spark, s"$sfDir/documents.parquet").schema)
      .option("maxFilesPerTrigger", 1) // one file per micro-batch: state
      .parquet(dir.toString)           // genuinely merges ACROSS batches
    val cells = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("__c"))
    val drained = runToTable(cells, "stream_gini", "complete")
    drained.groupBy(col("source"))
      .agg(sum(col("__c")).as("n_rows"),
        count(lit(1)).as("n_cats"),
        sum(col("__c") * col("__c")).as("__ss"))
      .select(col("source"), col("n_rows"), col("n_cats"),
        (lit(1.0) - col("__ss").cast("double") /
          (col("n_rows") * col("n_rows")).cast("double")).as("gini"))
  }

  /**
   * Streaming regression monitor: [[graft.ext.RegressionOps.olsByGroup]]
   * runs UNCHANGED over the lineitem stream — its sufficient statistics
   * are decimal sums (order-free, exact), so complete-mode state merges
   * across micro-batches to the identical values and the drained
   * slope/intercept/r² equal batch OLS bit-for-bit under ANY batching.
   * q234 shares q183's oracle verbatim (the q189/q222 discipline) — the
   * strongest possible statement that the operator is streaming-safe.
   */
  def olsMonitor(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stageTableDirSplit(sfDir, "lineitem", parts = 3)
    val li = spark.readStream
      .schema(graft.io.ParquetIO.read(spark, s"$sfDir/lineitem.parquet").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
    runToTable(
      graft.ext.RegressionOps.olsByGroup(li, "l_returnflag", "l_quantity", "l_extendedprice"),
      "stream_ols", "complete")
  }

  /**
   * Streaming ingest into the transactional table ([[graft.io.TxLog]]):
   * the documents stream drains through an idempotent `foreachBatch` sink
   * — one atomic TxLog commit per non-empty micro-batch, keyed by
   * (streamId, batchId) so a checkpoint-replayed batch is SKIPPED, never
   * double-applied. The gate then deliberately REPLAYS batch 0 (the
   * restart scenario) and pins that it was skipped, that the commit count
   * is exactly create + 3 micro-batches, and that the final snapshot's
   * per-source counts equal the batch table — streaming ingest composed
   * with the commit log, exactly-once end to end.
   */
  def txlogStreamSink(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.io.TxLog
    val dir = stageTableDirSplit(sfDir, "documents", parts = 3)
    val schema = graft.io.ParquetIO.read(spark, s"$sfDir/documents.parquet").schema
    val docs = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(dir.toString)
    val tbl = graft.io.TempDirs.create("graft_txlog_sink_").resolve("t").toString
    TxLog.create(spark, tbl, graft.io.ParquetIO.read(spark, s"$sfDir/documents.parquet").limit(0))
    val q = docs.writeStream
      .foreachBatch(TxLog.streamSink(tbl, "docs"))
      .option("checkpointLocation",
        graft.io.TempDirs.create("graft_txlog_sink_ckpt_").toString)
      .trigger(Trigger.AvailableNow()).start()
    if (!q.awaitTermination(300000)) {
      q.stop()
      throw new IllegalStateException("txlog stream sink did not drain within 300s")
    }
    // restart scenario: batch 0 re-delivered — must be skipped, not re-applied
    val replaySkipped = !TxLog.appendStreamBatch(spark, tbl,
      graft.io.ParquetIO.read(spark, s"$sfDir/documents.parquet").limit(5), "docs", batchId = 0L)
    TxLog.read(spark, tbl)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("n_commits", lit(TxLog.history(tbl).length.toLong))
      .withColumn("replay_skipped", lit(replaySkipped))
  }

  /**
   * The LAKEHOUSE CAPSTONE (q303): every TxLog capability composed as ONE
   * lifecycle the way q98/q261 composed curation/admission — create →
   * exactly-once streaming ingest (3 micro-batches + a deliberate batch-0
   * replay, pinned skipped) → incremental aggregate maintenance where the
   * STATE IS ITSELF A TXLOG TABLE upserted from each stream version's
   * manifest delta (history never re-read) → merge-equals-rebuild pinned →
   * compaction → a schema-evolving append (added `tag` column) → version
   * diff counting the appended keys → vacuum with the floor landing at the
   * compaction (sub-floor time travel refuses loudly, in-retention reads
   * fine). One output relation, one composed DuckDB oracle.
   */
  def lakehouseCapstone(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.io.TxLog
    val dir = stageTableDirSplit(sfDir, "documents", parts = 3)
    val raw = graft.io.ParquetIO.read(spark, s"$sfDir/documents.parquet")
    def slim(df: DataFrame) = df.select(col("doc_id"), col("source"),
      length(col("text")).cast("long").as("text_len"))
    val docsTbl = graft.io.TempDirs.create("graft_lakehouse_docs_").resolve("t").toString
    val stateTbl = graft.io.TempDirs.create("graft_lakehouse_state_").resolve("t").toString
    TxLog.create(spark, docsTbl, slim(raw).limit(0))                          // v0
    val stream = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val q = slim(stream).writeStream
      .foreachBatch(TxLog.streamSink(docsTbl, "docs"))
      .option("checkpointLocation",
        graft.io.TempDirs.create("graft_lakehouse_ckpt_").toString)
      .trigger(Trigger.AvailableNow()).start()                               // v1..v3
    if (!q.awaitTermination(300000)) {
      q.stop()
      throw new IllegalStateException("lakehouse stream did not drain within 300s")
    }
    // exactly-once: a checkpoint-replayed batch is found in the log, skipped
    val replaySkipped = !TxLog.appendStreamBatch(spark, docsTbl,
      slim(raw).limit(5), "docs", batchId = 0L)
    // incremental maintenance: the agg state lives in its OWN TxLog table,
    // upserted per stream version from appendedIn's manifest-diff delta
    def aggOf(df: DataFrame) = df.groupBy(col("source"))
      .agg(count(lit(1)).as("n_stream"), sum(col("text_len")).as("sum_len_stream"))
    TxLog.create(spark, stateTbl, aggOf(TxLog.read(spark, docsTbl, 0L)))
    TxLog.history(docsTbl).filter(_.op.startsWith("stream_append:"))
      .map(_.version).foreach { v =>
        TxLog.upsert(spark, stateTbl,
          graft.operators.Ingest.mergeAggState(
            TxLog.read(spark, stateTbl),
            aggOf(TxLog.appendedIn(spark, docsTbl, v)), Seq("source")),
          Seq("source"))
      }
    val state = TxLog.read(spark, stateTbl)
    // merge-equals-rebuild, proven while the stream versions are readable
    val rebuilt = aggOf(TxLog.read(spark, docsTbl))
    val incrementalOk = graft.operators.RelCheck.multisetEquals(state, rebuilt)
    TxLog.compact(spark, docsTbl, targetPartitions = 4)                      // v4
    // schema evolution: generation 2 carries an ADDED tag column
    TxLog.append(spark, docsTbl, slim(raw).filter(col("doc_id") % 10 === 3)
      .withColumn("tag", concat(lit("t"), (col("doc_id") % 4).cast("string")))
      .withColumn("doc_id", col("doc_id") + 1000000L))                       // v5
    val nAdded = TxLog.diffVersions(spark, docsTbl, 4L, 5L, Seq("doc_id"),
        md5(concat_ws("|", col("source"), col("text_len").cast("string"))))
      .filter(col("status") === "added").count()
    // retention: the floor lands exactly at the compaction rewrite
    TxLog.vacuum(spark, docsTbl, retainVersions = 3)                         // v6, floor 4
    val floorOk = TxLog.retentionFloor(docsTbl) == 4L &&
      scala.util.Try(TxLog.read(spark, docsTbl, 2L)).isFailure &&
      scala.util.Try(TxLog.read(spark, docsTbl, 4L).columns).isSuccess
    TxLog.read(spark, docsTbl)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_final"), count(col("tag")).as("n_tagged"),
        sum(col("text_len")).as("sum_len_final"))
      .join(state, "source")
      .withColumn("n_commits", lit(TxLog.history(docsTbl).length.toLong))
      .withColumn("n_added", lit(nAdded))
      .withColumn("replay_skipped", lit(replaySkipped))
      .withColumn("incremental_ok", lit(incrementalOk))
      .withColumn("floor_ok", lit(floorOk))
  }

  def quantileMonitor(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.graft.DDSketchFunctions._
    val alpha = 0.01
    val dir = stageEventsDir(sfDir)
    val ev = StreamOps.eventsStream(spark, dir.toString, maxFilesPerTrigger = 1)
    val sk = ev.groupBy(col("event_type"))
      .agg(ddsketch_agg(col("value"), alpha, 4096).as("sk"),
        count(lit(1)).as("n"))
    val drained = runToTable(sk, "stream_quantiles", "complete")
    val batch = StreamOps.batchEvents(spark, s"$sfDir/events.parquet")
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, array(0.498, 0.502, 0.898, 0.902))").as("ex"))
    drained.join(batch, "event_type")
      .select(col("event_type"),
        (dd_quantile(col("sk"), 0.5) >= col("ex")(0) * (1.0 - alpha) &&
         dd_quantile(col("sk"), 0.5) <= col("ex")(1) * (1.0 + alpha)).as("p50_ok"),
        (dd_quantile(col("sk"), 0.9) >= col("ex")(2) * (1.0 - alpha) &&
         dd_quantile(col("sk"), 0.9) <= col("ex")(3) * (1.0 + alpha)).as("p90_ok"),
        col("n"))
  }
}
