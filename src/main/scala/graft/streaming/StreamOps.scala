package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/**
 * Structured Streaming surface over the `events` table shape
 * (event_id, ts, user_id, event_type, value, props). The reference is
 * batch-only (SURVEY.md §2.2 "Streaming: none"); this is extension work
 * re-using the same operator semantics on an unbounded source.
 *
 * The engine contract for `ts` is LONG EPOCH NANOS regardless of the
 * fixture's parquet timestamp flavor (see [[graft.io.ParquetIO.tsToNanos]]);
 * [[StreamGate]] stages events pre-normalized to this shape so the file
 * streaming source reads [[eventsSchema]] directly, and [[withEventTime]]
 * converts to a proper timestamp for watermarking.
 */
object StreamOps {

  /** Schema of the events table in its staged, ts-normalized form. */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // long epoch nanos
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Batch read of an events parquet with `ts` normalized to long nanos —
    * the batch-equivalence counterpart of a staged stream. */
  def batchEvents(spark: SparkSession, path: String): DataFrame =
    graft.io.ParquetIO.tsToNanos(graft.io.ParquetIO.read(spark, path))

  /** File-based streaming read of an events directory (one file per
    * micro-batch by default — `maxFilesPerTrigger` tunes replay pace). */
  def eventsStream(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(eventsSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** long-nanos -> TimestampType event time column `event_time`.
    * Integer division, NOT `/` — `Divide` on longs goes through double,
    * and nanosecond epochs (~1.7e18) exceed double's 2^53 exact range, so
    * a quotient can round a hair below its true integer value and truncate
    * one microsecond low. */
  def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("event_time", timestamp_micros(expr("ts div 1000")))

  /**
   * Watermarked tumbling-window aggregation: counts + sum(value) per
   * (window, event_type). Late events beyond `lateness` are dropped —
   * bounded state at any scale.
   */
  def windowedAgg(events: DataFrame, windowLen: String = "1 hour", lateness: String = "2 hours"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", lateness)
      .groupBy(window(col("event_time"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /**
   * Stream-safe Bernoulli sampling: content-hash acceptance (not rand()),
   * so a row's fate is a pure function of (seed, row) — stable across
   * micro-batch retries, which exactly-once sinks require.
   */
  def sampleStream(events: DataFrame, ratio: Double, seed: Long): DataFrame = {
    require(ratio >= 0.0 && ratio <= 1.0, s"ratio must be in [0,1], got $ratio")
    val r = shiftrightunsigned(xxhash64(lit(seed), struct(events.columns.map(col).toSeq: _*)), 11)
      .cast("double") / lit((1L << 53).toDouble)
    events.filter(r < ratio)
  }

  /** Per-user session emitted by [[sessionizeStream]]. */
  final case class UserSession(
      user_id: Long,
      session_start_us: Long,
      session_end_us: Long,
      n_events: Long,
      sum_value: Double)

  // public: encoder-generated code must be able to construct these
  final case class SessionState(startUs: Long, lastUs: Long, n: Long, sum: Double)

  final case class SessionEvent(user_id: Long, tus: Long, value: Double)

  /**
   * Custom-state streaming sessionization via `flatMapGroupsWithState`:
   * per-user open-session state (start, last-seen, aggregates) held in the
   * state store; a session closes and is emitted when the EVENT-TIME gap
   * since its last event exceeds `gapUs` — detected either by a newer event
   * or by an event-time timeout once the watermark passes lastEvent + gap
   * (a processing-time timeout would flush whenever the SOURCE stalls,
   * splitting one true session in two). This is the pattern for session
   * semantics Spark's built-in `session_window` can't express (per-session
   * aggregates beyond sum/count, custom close conditions, side outputs).
   *
   * State is O(1) per active user and keys time out at the watermark —
   * bounded no matter how long the stream runs. Events later than
   * `lateness` are dropped by the watermark (standard trade-off).
   */
  def sessionizeStream(
      events: DataFrame,
      gapUs: Long = 10L * 60 * 1000 * 1000,
      lateness: String = "0 seconds"): Dataset[UserSession] = {
    val spark = events.sparkSession
    import spark.implicits._

    def flush(userId: Long, st: SessionState): UserSession =
      UserSession(userId, st.startUs, st.lastUs, st.n, st.sum)

    withEventTime(events)
      .withWatermark("event_time", lateness)
      .select(col("user_id"), expr("ts div 1000").as("tus"), col("value"), col("event_time"))
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[UserSession]
          if (state.hasTimedOut) {
            // watermark passed lastUs + gap: the session is truly over
            state.getOption.foreach(st => out += flush(userId, st))
            state.remove()
          } else {
            var st = state.getOption.orNull
            batch.toSeq.sortBy(_.tus).foreach { e =>
              st match {
                case null =>
                  st = SessionState(e.tus, e.tus, 1L, e.value)
                case s if e.tus - s.lastUs >= gapUs =>
                  out += flush(userId, s) // gap exceeded: close + start new
                  st = SessionState(e.tus, e.tus, 1L, e.value)
                case s =>
                  // late-but-within-gap events may arrive across batches:
                  // extend BOTH session bounds
                  st = s.copy(startUs = math.min(s.startUs, e.tus),
                    lastUs = math.max(s.lastUs, e.tus), n = s.n + 1, sum = s.sum + e.value)
              }
            }
            if (st != null) {
              val timeoutMs = (st.lastUs + gapUs) / 1000
              if (timeoutMs <= state.getCurrentWatermarkMs()) {
                // already expired relative to the watermark (setting a
                // past timestamp would throw): close immediately
                out += flush(userId, st)
                if (state.exists) state.remove()
              } else {
                state.update(st)
                state.setTimeoutTimestamp(timeoutMs)
              }
            }
          }
          out.iterator
      }
  }

  /** Final funnel stage emitted by [[funnelStream]] once a user's stream
    * ends: 0 none, 1 viewed, 2 clicked, 3 purchased. */
  final case class UserFunnel(user_id: Long, funnel_stage: Long)

  /** Funnel machine state: first-view / first-qualifying-click /
    * first-qualifying-purchase times in nanos; -1 = not reached. */
  final case class FunnelState(tView: Long, tClick: Long, tPurchase: Long)

  final case class FunnelEvent(user_id: Long, tns: Long, event_type: String)

  /**
   * Streaming conversion funnel via `flatMapGroupsWithState`: a per-user
   * state machine tracking view -> click -> purchase, each stage accepted
   * only within `windowNs` of the previous stage's time — the streaming
   * form of the batch q113 semantics (first view; first click in
   * (tView, tView+w]; first purchase in (tClick, tClick+w]). Events are
   * processed in event-time order (sorted within each batch; the staged
   * replay delivers batches in file order), under which "first qualifying"
   * equals the batch "min qualifying" — so the emitted stages are EXACTLY
   * the batch answer, not an approximation.
   *
   * A user's final stage is emitted when their `sentinelType` event arrives
   * (the finite-replay close signal, same pattern as the sessionization
   * gate); state is O(1) per user — three longs — and is removed at flush.
   */
  def funnelStream(
      events: DataFrame,
      windowNs: Long = 86400000000000L,
      sentinelType: String = "__sentinel"): Dataset[UserFunnel] = {
    val spark = events.sparkSession
    import spark.implicits._

    def stage(st: FunnelState): Long =
      if (st.tPurchase >= 0) 3L else if (st.tClick >= 0) 2L else if (st.tView >= 0) 1L else 0L

    def step(st: FunnelState, e: FunnelEvent): FunnelState = e.event_type match {
      case "view" if st.tView < 0 => st.copy(tView = e.tns)
      case "click" if st.tView >= 0 && st.tClick < 0 &&
        e.tns > st.tView && e.tns <= st.tView + windowNs => st.copy(tClick = e.tns)
      case "purchase" if st.tClick >= 0 && st.tPurchase < 0 &&
        e.tns > st.tClick && e.tns <= st.tClick + windowNs => st.copy(tPurchase = e.tns)
      case _ => st
    }

    withEventTime(events)
      .select(col("user_id"), col("ts").as("tns"), col("event_type"))
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, UserFunnel](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, batch: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          var flush = false
          batch.toSeq.sortBy(_.tns).foreach { e =>
            if (e.event_type == sentinelType) flush = true
            else st = step(st, e)
          }
          if (flush) {
            if (state.exists) state.remove()
            Iterator(UserFunnel(userId, stage(st)))
          } else {
            state.update(st)
            Iterator.empty
          }
      }
  }

  /**
   * Streaming exact dedup on a key, with watermark-bounded state: the first
   * occurrence of each key within the watermark horizon survives.
   */
  def dedupStream(events: DataFrame, keyCols: Seq[String], lateness: String = "2 hours"): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", lateness)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /**
   * Stream-stream interval self-join: each purchase event pairs with the
   * same user's click events from the preceding `horizon`. The time-range
   * predicate + watermarks bound BOTH join state stores (clicks older than
   * purchase-watermark − horizon and purchases older than click-watermark
   * are evicted) — the canonical pattern for unbounded stream-stream joins
   * with finite state. Inner join, so every emitted pair is a true match
   * regardless of micro-batch boundaries.
   *
   * Times compare in event-time MICROseconds (`ts div 1000`, like every
   * operator here) — a nanosecond-precision comparison would disagree with
   * the microsecond event_time the watermark runs on.
   */
  def clickBeforePurchaseJoin(events: DataFrame, horizon: String = "1 hour"): DataFrame = {
    val et = withEventTime(events)
    val purchases = et.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("event_time").as("p_time"))
      .withWatermark("p_time", "0 seconds")
    val clicks = et.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("event_time").as("c_time"))
      .withWatermark("c_time", "0 seconds")
    purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_time") >= col("p_time") - expr(s"INTERVAL $horizon") &&
        col("c_time") <= col("p_time"))
      .select(col("purchase_id"), col("click_id"), col("user_id"))
  }

  /**
   * Stream-stream LEFT OUTER interval join: every click, annotated with
   * the purchases that followed it within `horizon` — or an explicit
   * no-conversion row. Outer rows can only emit once the watermark proves
   * no matching purchase can still arrive (c_time + horizon behind the
   * watermark), so unlike the inner join (q84) the emitted set depends on
   * watermark progress: the gate's far-future sentinel file pushes the
   * watermark past every real click's horizon, making the final emitted
   * set equal the BATCH left outer join exactly.
   *
   * Sentinel rows (type `__sentinel`, far-future event time) are KEPT in
   * both join inputs rather than filtered out: the global watermark is the
   * minimum over every EventTimeWatermark operator's observed max, and a
   * type filter would be pushed below the watermark operator by the
   * optimizer — dropping sentinels before they can advance it, which
   * strands exactly the clicks whose horizon extends past the last real
   * event. Flowing through, a sentinel can never join (its time is a year
   * past any real horizon) and never flushes as an outer row (the
   * watermark never passes sentinel + horizon); the post-join id filter
   * removes any residue defensively.
   */
  def clickPurchaseLeftOuter(events: DataFrame, horizon: String = "1 hour"): DataFrame = {
    val et = withEventTime(events).withWatermark("event_time", "0 seconds")
    val clicks = et.filter(col("event_type").isin("click", "__sentinel"))
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("event_time").as("c_time"))
    val purchases = et.filter(col("event_type").isin("purchase", "__sentinel"))
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("event_time").as("p_time"))
    clicks.join(purchases,
      col("user_id") === col("c_user") &&
        col("p_time") >= col("c_time") &&
        col("p_time") <= col("c_time") + expr(s"INTERVAL $horizon"),
      "left_outer")
      .filter(col("click_id") =!= -1L)
      .select(col("click_id"), col("c_user").as("user_id"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        col("purchase_id").isNotNull.as("matched"))
  }
}
