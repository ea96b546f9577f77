package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.io.{TxLog, TxSnapshot}

/** Change-feed rows one or more commits must produce: inserts, update
  * pairs (a pre- and a post-image each) and deletes. */
final case class Feed(ins: Long, upd: Long, del: Long) {
  def +(o: Feed): Feed = Feed(ins + o.ins, upd + o.upd, del + o.del)
  def rows: Long = ins + 2 * upd + del
}

object Feed { val none = Feed(0L, 0L, 0L) }

/** What one TxLog table must hold, kept by the benchmark: its live row
  * count at every version and the change-feed rows of every commit. Each
  * commit and read a workload issues on the table goes through here, so
  * every answer is checked against the model; traced runs also record
  * what each commit wrote and what each read scanned. */
final class TxModel(val table: String, rowWidth: Double) {
  var live = 0L
  var version = -1L
  private val countAt = mutable.Map[Long, Long]()
  private val feedAt = mutable.Map[Long, Feed]()

  /** A version committed during set-up, outside any timed operation. */
  def committed(snap: TxSnapshot, rows: Long): Unit = {
    version = snap.version
    live = rows
    countAt(version) = rows
  }

  /** One timed commit of `rows` user rows that changes the live count by
    * `delta` and the change feed by `feed`; `fastCount` must agree after. */
  def commit(run: Run, kind: String, cls: String, rows: Long, delta: Long, feed: Feed)(
      body: => TxSnapshot): Unit = {
    val before = if (run.trace.on) Files.listing(table) else Map.empty[String, Long]
    run.op(kind, cls)(run.trace.span(s"TxLog.$kind")(body)) { snap =>
      if (snap.version != version) {
        version = snap.version
        live += delta
        countAt(version) = live
        feedAt(version) = feed
      }
      run.expect(s"$kind fastCount", Some(live), TxLog.fastCount(table))
    }
    if (run.trace.on) {
      val snap = TxLog.latest(table)
      val fresh = Files.listing(table).filter { case (f, _) => !before.contains(f) }
      // a compaction changes no user data: count the rows it rewrote
      val userRows = if (kind != "compactSmall") rows
        else snap.segments.filterNot(s => before.keys.exists(_.contains(s))).flatMap(snap.rowCounts.get).sum
      run.trace.annotate(s"TxLog.$kind", "files_written" -> fresh.size.toDouble,
        "bytes_written_per_user_byte" -> fresh.values.sum / math.max(userRows * rowWidth, 1.0))
      run.trace.annotate(s"op.$kind", "segments_live" -> snap.segments.size.toDouble,
        "dv_files" -> snap.dvs.size.toDouble, "bytes_on_disk" -> Files.bytes(table).toDouble)
    }
  }

  /** One timed read answering a row count, which must be `want`; `segs`
    * (traced runs only) is the segments it had to scan. */
  def read(run: Run, kind: String, want: Long, segs: => Int)(body: => Long): Unit = {
    run.op(kind, if (kind == "fastCount") "other" else "read")(
      run.trace.span(s"TxLog.$kind")(body))(n => run.expect(s"$kind count", want, n))
    if (run.trace.on) run.trace.annotate(s"TxLog.$kind", "segments_scanned" -> segs.toDouble,
      "rows_returned" -> want.toDouble)
  }

  /** The latest version, read and counted. */
  def readLatest(run: Run): Unit =
    read(run, "read", live, TxLog.latest(table).segments.size)(TxLog.read(run.spark, table).count())

  /** Rows with `column` in [lo, hi], of which `want` are live. */
  def readWhere(run: Run, column: String, lo: Long, hi: Long, want: Long): Unit =
    read(run, "readWhere", want, TxLog.prunedSegments(table, column, lo.toDouble, hi.toDouble)._1.size) {
      TxLog.readWhere(run.spark, table, column, lo.toDouble, hi.toDouble).count()
    }

  /** Time travel to `back` versions before the latest. */
  def readAsOf(run: Run, back: Int): Unit = {
    val past = version - back
    read(run, "readAsOfVersion", countAt(past),
      TxLog.history(table).find(_.version == past).map(_.segments.size).getOrElse(0)) {
      TxLog.read(run.spark, table, past).count()
    }
  }

  def fastCount(run: Run): Unit = read(run, "fastCount", live, 0)(TxLog.fastCount(table).getOrElse(-1L))

  /** The change feed of the last `back` versions, counted by change type. */
  def changeFeed(run: Run, back: Int): Unit = {
    val from = version - back
    val want = (from + 1 to version).map(v => feedAt.getOrElse(v, Feed.none)).reduce(_ + _)
    run.op("changeFeed", "read") {
      run.trace.span("TxLog.changeFeed")(TxLog.changeFeed(run.spark, table, from)
        .groupBy(col("_change_type")).count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    } { got =>
      val exp = Map("insert" -> want.ins, "update_preimage" -> want.upd, "update_postimage" -> want.upd,
        "delete" -> want.del).filter(_._2 > 0)
      run.expect("changeFeed counts", exp, got.filter(_._2 > 0))
    }
    if (run.trace.on) {
      // what the feed had to read: the segments and deletion vectors its
      // versions added
      val h = TxLog.history(table).filter(_.version >= from).sortBy(_.version)
      val fresh = h.sliding(2).map { case Seq(a, c) =>
        (c.segments.toSet -- a.segments).size + (c.dvs.keySet -- a.dvs.keySet).size }.sum
      run.trace.annotate("TxLog.changeFeed", "segments_scanned" -> fresh.toDouble,
        "rows_returned" -> want.rows.toDouble)
    }
  }
}
