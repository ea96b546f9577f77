package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, GraphAnn, IndexFollower, Similarity}
import graft.io.TxLog

/** index_follow: a documents table in TxLog, each document carrying text
  * and an embedding, followed by an HNSW and an IVF-PQ index on the
  * embeddings and a MinHash index on the text. A cycle is two rounds. The
  * first commits inserts, then keyed erasures; the second commits
  * re-embedding upserts, a CDC batch and a predicate delete. Each round
  * then advances every follower and serves a fixed batch of k=10 queries
  * from each. The second round ends with the table's own reads (every
  * TxLog read path, checked against a row-count model) and a compaction
  * of its small segments. */
final class IndexFollow(val scale: IxScale) extends Workload {
  val k = 10
  val hnswCfg = GraphAnn.HnswConfig(m = 8, efConstruction = 96, efSearch = 128, shards = 4)
  val ivfCfg = Similarity.IvfConfig(nlist = 32, nprobe = 16, maxIter = 3)
  val pqCfg = Similarity.PqConfig(m = 8, ksub = 32, maxIter = 3)
  val mhThreshold = 0.5
  val smallBytes = 1L << 20
  override def cycle: Int = 2
  def cycleSeconds: Double = 20.0
  def maxRounds: Int = cycle * IxScale.maxBatches.toInt
  private val kinds = Seq("hnsw", "ivfpq", "minhash")
  private var model: TxModel = _
  /** Ids deleted by any commit: no follower may serve one. */
  private val erased = mutable.Set[Long]()
  private val liveIds = mutable.Set[Long]()
  /** Live members of each initial document family: the MinHash ground truth. */
  private val family = mutable.Map[Long, mutable.Set[Long]]()
  private var queryFam = Map.empty[Long, Long]
  private var deletes = Map.empty[Long, Seq[Long]]
  private var drops = Map.empty[Long, Seq[Long]]
  private var updates = Map.empty[Long, Long]
  /** Per CDC batch: the ids it deletes, the ids it inserts, and how many ids it updates. */
  private var cdc = Map.empty[Long, (Seq[Long], Seq[Long], Long)]

  private def docs(run: Run) = run.path("t/docs")
  private def ix(run: Run, kind: String) = run.path(s"t/ix_$kind")
  private def batch(run: Run, t: String, b: Long) = run.input(t).filter(col("b") === b).drop("b")
  private def idsByBatch(df: DataFrame): Map[Long, Seq[Long]] =
    df.select("b", "doc_id").collect().groupBy(_.getLong(0)).map { case (b, rs) => b -> rs.map(_.getLong(1)).toSeq }

  def setup(run: Run): Unit = {
    new Gen(run.spark, run.seed).index(run.path("in"), scale)
    val init = run.input("doc_init")
    model = new TxModel(docs(run), UserBytes.of(init).toDouble / scale.docs)
    model.committed(TxLog.create(run.spark, docs(run), init), scale.docs)
    liveIds ++= 0L until scale.docs
    (0L until scale.docs).foreach(d => family.getOrElseUpdate(d / IxScale.family, mutable.Set()) += d)
    queryFam = run.input("queries").select("qid", "fam").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    deletes = idsByBatch(run.input("doc_del"))
    drops = idsByBatch(run.input("doc_drop"))
    updates = run.input("doc_upd").groupBy("b").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    cdc = run.input("doc_cdc").select("b", "op", "doc_id").distinct().collect().groupBy(_.getLong(0))
      .map { case (b, rs) =>
        val byOp = rs.groupBy(_.getString(1)).map { case (op, xs) => op -> xs.map(_.getLong(2)).toSeq }
        b -> (byOp.getOrElse("D", Nil), byOp.getOrElse("I", Nil), byOp.getOrElse("U", Nil).size.toLong)
      }
    advance(run) // bootstrap: every follower builds from the snapshot
  }

  private def erase(ids: Seq[Long]): Unit = {
    erased ++= ids
    liveIds --= ids
    ids.foreach(d => family.get(d / IxScale.family).foreach(_ -= d))
  }

  private def advance(run: Run): Unit = kinds.foreach { kind =>
    val before = if (run.trace.on) TxLog.latest(ix(run, kind)).segments.toSet else Set.empty[String]
    val bytes0 = if (run.trace.on) Files.bytes(ix(run, kind)) else 0L
    run.op(s"advance_$kind", "refresh") {
      run.trace.span(s"IndexFollower.$kind.advance")(kind match {
        case "hnsw" => IndexFollower.followIndex(run.spark, docs(run), ix(run, kind), "ann",
          "doc_id", "embedding", hnswCfg)
        case "ivfpq" => IndexFollower.followIvfPq(run.spark, docs(run), ix(run, kind), "pq",
          "doc_id", "embedding", ivfCfg, pqCfg, retrainGrowth = 4.0)
        case _ => IndexFollower.followMinhashIndex(run.spark, docs(run), ix(run, kind), "mh",
          "doc_id", "text")
      })
    } { advanced => run.expect(s"$kind advanced", true, advanced) }
    if (run.trace.on) {
      val after = TxLog.latest(ix(run, kind)).segments
      run.trace.annotate(s"IndexFollower.$kind.advance",
        "bytes_written" -> (Files.bytes(ix(run, kind)) - bytes0).toDouble,
        "segments_carried_frac" -> after.count(before.contains).toDouble / math.max(after.size, 1))
    }
  }

  private def pairs(df: DataFrame, q: String, n: String): Seq[(Long, Long)] =
    df.select(col(q).cast("long"), col(n).cast("long")).collect().toSeq.map(r => r.getLong(0) -> r.getLong(1))

  def round(run: Run, i: Int): Unit = {
    val spark = run.spark
    val t = docs(run)
    val b = (i / cycle).toLong
    if (i % cycle == 0) {
      model.commit(run, "append", "write", scale.batch, scale.batch, Feed(scale.batch, 0L, 0L)) {
        TxLog.append(spark, t, batch(run, "doc_ins", b))
      }
      liveIds ++= scale.docs + b * scale.batch until scale.docs + (b + 1) * scale.batch
      val del = deletes(b)
      model.commit(run, "deleteRowsKeyed", "write", del.size, -del.size, Feed(0L, 0L, del.size.toLong)) {
        TxLog.deleteRowsKeyed(spark, t, batch(run, "doc_del", b), Seq("doc_id"))
      }
      erase(del)
    } else {
      model.commit(run, "upsert", "write", updates(b), 0L, Feed(0L, updates(b), 0L)) {
        TxLog.upsert(spark, t, batch(run, "doc_upd", b), Seq("doc_id"))
      }
      val (cdcDel, cdcIns, cdcUpd) = cdc(b)
      model.commit(run, "applyChanges", "write", cdcIns.size + cdcUpd + cdcDel.size, cdcIns.size - cdcDel.size,
          Feed(cdcIns.size, cdcUpd, cdcDel.size)) {
        TxLog.applyChanges(spark, t, batch(run, "doc_cdc", b), Seq("doc_id"), Seq(col("seq")), "op", "D")
      }
      erase(cdcDel)
      liveIds ++= cdcIns
      val drop = drops(b)
      model.commit(run, "deleteRows", "write", drop.size, -drop.size, Feed(0L, 0L, drop.size.toLong)) {
        TxLog.deleteRows(spark, t, col("doc_id").isin(drop: _*))
      }
      erase(drop)
    }
    advance(run)

    val qVec = run.input("queries").select("qid", "qvec")
    val qDoc = run.input("queries").select("qid", "text")
    def serve(kind: String)(body: => Seq[(Long, Long)]): Seq[(Long, Long)] = {
      var got = Seq.empty[(Long, Long)]
      run.op(s"search_$kind", "read")(run.trace.span(s"IndexFollower.$kind.search")(body)) {
        res =>
          got = res
          val bad = res.map(_._2).filter(erased.contains)
          if (bad.nonEmpty) throw new WrongAnswer(s"$kind served deleted ids ${bad.take(5).mkString(",")}")
      }
      got
    }
    val hnsw = serve("hnsw")(pairs(IndexFollower.searchIndex(spark, ix(run, "hnsw"), qVec, "qid", "qvec", k,
      hnswCfg), "query_id", "neighbor_id"))
    val ivfpq = serve("ivfpq")(pairs(IndexFollower.searchFollowedIvfPq(spark, ix(run, "ivfpq"), qVec,
      "qid", "qvec", k, nprobe = 16, rerank = 100), "query_id", "neighbor_id"))
    val mh = serve("minhash") {
      val index = IndexFollower.minhashIndexOf(TxLog.read(spark, ix(run, "minhash")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("batch_id")
        .orderBy(col("jaccard").desc, col("corpus_id"))
      pairs(Dedup.ingestNearDupPairs(qDoc, "qid", "text", index, mhThreshold)
        .withColumn("__r", row_number().over(w)).filter(col("__r") <= k), "batch_id", "corpus_id")
    }

    // recall, outside the timed window and only for recorded rounds: exact
    // top-k over the live vectors, and the planted families for the documents
    if (run.recording) recall(run, qVec, hnsw, ivfpq, mh)

    if (i % cycle == 1) {
      val width = scale.docs / 4
      val lo = new scala.util.Random(run.seed * 7919L + i).nextInt((scale.docs - width).toInt).toLong
      model.readLatest(run)
      model.readWhere(run, "doc_id", lo, lo + width, liveIds.count(d => d >= lo && d <= lo + width).toLong)
      model.changeFeed(run, 3)
      model.readAsOf(run, 5)
      model.fastCount(run)
      model.commit(run, "compactSmall", "refresh", 0L, 0L, Feed.none)(TxLog.compactSmall(spark, t, smallBytes))
    }
  }

  private def recall(run: Run, qVec: DataFrame, hnsw: Seq[(Long, Long)], ivfpq: Seq[(Long, Long)],
      mh: Seq[(Long, Long)]): Unit = {
    val exact = Similarity.bruteTopK(TxLog.read(run.spark, docs(run)), "doc_id", "embedding", qVec, "qid",
      "qvec", k)
    val truth = pairs(exact, "query_id", "neighbor_id").groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    def recallOf(kind: String, got: Seq[(Long, Long)], want: Map[Long, Set[Long]]): Unit = {
      val found = got.groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
      val per = want.toSeq.filter(_._2.nonEmpty).map { case (q, ws) =>
        (found.getOrElse(q, Set.empty[Long]) intersect ws).size.toDouble / math.min(ws.size, k)
      }
      val r = per.sum / math.max(per.size, 1)
      run.recall += kind -> r
      run.trace.annotate(s"IndexFollower.$kind.search", "recall_at_10" -> r)
    }
    recallOf("hnsw", hnsw, truth)
    recallOf("ivfpq", ivfpq, truth)
    recallOf("minhash", mh, queryFam.map { case (q, f) => q -> family.getOrElse(f, mutable.Set()).toSet })
  }

  def storage(run: Run): (Long, Long) =
    ((docs(run) +: kinds.map(ix(run, _))).map(Files.bytes).sum, UserBytes.of(TxLog.read(run.spark, docs(run))))
}
