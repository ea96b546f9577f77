package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.TxLog

/** txlog_churn: TxLog commits interleaved with TxLog reads on one
  * orders-like table. Each round is the same fixed sequence; the seed picks
  * the rows. A row-count model (`TxModel`) checks every answer. */
final class TxChurn(val scale: TxScale) extends Workload {
  val segments = 8
  val smallBytes = 1L << 20
  def cycleSeconds: Double = 5.5
  def maxRounds: Int = TxScale.maxBatches.toInt
  private var model: TxModel = _
  private val initLive = new java.util.BitSet()
  private var deletes = Map.empty[Long, Seq[Long]]
  private var cdc = Map.empty[Long, (Seq[Long], Long, Long)]
  private var upserts = Map.empty[Long, Long]

  private def table(run: Run) = run.path("t/orders")
  private def batch(run: Run, t: String, b: Long): DataFrame = run.input(t).filter(col("b") === b).drop("b")

  def setup(run: Run): Unit = {
    new Gen(run.spark, run.seed).txlog(run.path("in"), scale)
    val init = run.input("init")
    model = new TxModel(table(run), UserBytes.of(init).toDouble / scale.rows)
    val per = scale.rows / segments
    for (s <- 0 until segments) {
      val part = init.filter(col("o_orderkey") > s * per && col("o_orderkey") <= (s + 1) * per)
      val snap =
        if (s == 0) TxLog.create(run.spark, table(run), part) else TxLog.append(run.spark, table(run), part)
      model.committed(snap, (s + 1) * per)
    }
    initLive.set(1, scale.rows.toInt + 1)
    val maxB = TxScale.maxBatches
    deletes = run.input("deletes").filter(col("b") < maxB).collect()
      .groupBy(_.getLong(0)).map { case (b, rs) => b -> rs.map(_.getLong(1)).toSeq }
    upserts = run.input("upserts").filter(col("b") < maxB).groupBy("b").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    cdc = run.input("cdc").filter(col("b") < maxB).select("b", "op", "o_orderkey").distinct().collect()
      .groupBy(_.getLong(0)).map { case (b, rs) =>
        val byOp = rs.groupBy(_.getString(1)).map { case (op, xs) => op -> xs.map(_.getLong(2)).toSeq }
        val ins = byOp.getOrElse("I", Nil)
        val upd = byOp.getOrElse("U", Nil).toSet -- ins
        b -> (byOp.getOrElse("D", Nil), ins.size.toLong, upd.size.toLong)
      }
  }

  def round(run: Run, i: Int): Unit = {
    val spark = run.spark
    val t = table(run)
    val b = i.toLong
    val rnd = new scala.util.Random(run.seed * 7919L + i)

    model.commit(run, "append", "write", scale.append, scale.append, Feed(scale.append, 0L, 0L)) {
      TxLog.append(spark, t, batch(run, "appends", b))
    }
    model.readLatest(run)

    model.commit(run, "upsert", "write", upserts(b), 0L, Feed(0L, upserts(b), 0L)) {
      TxLog.upsert(spark, t, batch(run, "upserts", b), Seq("o_orderkey"))
    }
    val width = scale.rows / 20
    val lo = 1L + rnd.nextInt((scale.rows - width).toInt)
    model.readWhere(run, "o_orderkey", lo, lo + width,
      initLive.get(lo.toInt, (lo + width).toInt + 1).cardinality().toLong)

    val dels = deletes(b)
    model.commit(run, "deleteRows", "write", dels.size, -dels.size, Feed(0L, 0L, dels.size.toLong)) {
      TxLog.deleteRows(spark, t, col("o_orderkey").isin(dels: _*))
    }
    dels.foreach(k => initLive.clear(k.toInt))
    model.changeFeed(run, 3)

    val (cdcDel, cdcIns, cdcUpd) = cdc(b)
    model.commit(run, "applyChanges", "write", cdcIns + cdcUpd + cdcDel.size, cdcIns - cdcDel.size,
        Feed(cdcIns, cdcUpd, cdcDel.size.toLong)) {
      TxLog.applyChanges(spark, t, batch(run, "cdc", b), Seq("o_orderkey"), Seq(col("o_seq")), "op", "D")
    }
    cdcDel.foreach(k => initLive.clear(k.toInt))

    model.readAsOf(run, 5)
    model.fastCount(run)
    model.commit(run, "compactSmall", "refresh", 0L, 0L, Feed.none)(TxLog.compactSmall(spark, t, smallBytes))
  }

  def storage(run: Run): (Long, Long) =
    (Files.bytes(table(run)), UserBytes.of(TxLog.read(run.spark, table(run))))
}
