package graft.ext

import graft.SparkSpec
import graft.io.TxLog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Index-follows-table: the exactly-once HNSW follower over a TxLog
  * corpus — coverage, update/delete routing, compaction, and (on a
  * beam-exhaustive corpus) search equality with a from-scratch index. */
class IndexFollowerSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = GraphAnn.HnswConfig(
    m = 8, efConstruction = 64, efSearch = 256, shards = 2)

  /** Deterministic pseudo-embedding per id. */
  private def vecOf(id: Long): Seq[Float] =
    (0 until 8).map(d =>
      (((id * 2654435761L + d * 40503L) % 1000L) / 1000.0f) - 0.5f)

  private def df(ids: Seq[Long], neg: Boolean = false) =
    ids.map(i => (i, if (neg) vecOf(i).map(x => -x) else vecOf(i))).toDF("id", "vec")

  test("follower tracks append/upsert/dv-delete; beam-exhaustive search equals a from-scratch index") {
    val root = graft.io.TempDirs.create("idxf_")
    val src = root.resolve("src").toString
    val idx = root.resolve("idx").toString
    def follow() = IndexFollower.followIndex(spark, src, idx, "c", "id", "vec", cfg)

    TxLog.create(spark, src, df(0L until 40L))                          // v0
    assert(follow(), "bootstrap must advance")
    TxLog.append(spark, src, df(40L until 80L))                         // v1
    assert(follow(), "append must advance")
    // re-embed three existing ids (update) + insert ten new ones
    TxLog.upsert(spark, src,
      df(Seq(3L, 17L, 33L), neg = true).unionByName(df(80L until 90L)), Seq("id")) // v2
    TxLog.deleteRows(spark, src, col("id") % 7 === 2)                   // v3 (dv)
    assert(follow(), "rewrite range must advance")
    assert(!follow(), "caught up: replay must be skipped")

    val live = TxLog.read(spark, src)
    val state = TxLog.read(spark, idx)
    // coverage: graph ids == live ids; updates forced a compaction that
    // retired every tombstone
    val nodeIds = IndexFollower.nodesOf(state).select(col("id"))
      .collect().map(_.getLong(0)).toSet
    val liveIds = live.select(col("id")).collect().map(_.getLong(0)).toSet
    assert(nodeIds === liveIds)
    assert(IndexFollower.tombstonesOf(state).isEmpty, "compaction must retire tombstones")
    // updated ids carry their NEW vectors in the graph
    val v3vec = IndexFollower.nodesOf(state).filter(col("id") === 3L)
      .select(col("vec")).head().getSeq[Float](0)
    assert(v3vec === vecOf(3L).map(x => -x))
    // search equality: efSearch (256) exceeds every shard's size, so the
    // beam is exhaustive and both indexes return the EXACT top-k — the
    // followed graph and a from-scratch build must agree completely
    val q = df(Seq(1000L, 1001L, 1002L))
    val followed = IndexFollower.searchIndex(spark, idx, q, "id", "vec", 10, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val rebuilt = GraphAnn.hnswTopK(live, "id", "vec", q, "id", "vec", 10, cfg)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(followed === rebuilt, "followed index must match a from-scratch index")
  }

  test("delete-only advances accumulate tombstones below compactFrac, retire above it") {
    val root = graft.io.TempDirs.create("idxf2_")
    val src = root.resolve("src").toString
    val idx = root.resolve("idx").toString
    def follow(frac: Double) =
      IndexFollower.followIndex(spark, src, idx, "c", "id", "vec", cfg, compactFrac = frac)
    TxLog.create(spark, src, df(0L until 50L))
    assert(follow(0.5))
    // 2/50 deleted — below the 0.5 compaction threshold: tombstones serve
    TxLog.deleteRows(spark, src, col("id").isin(5L, 25L))
    assert(follow(0.5))
    val st1 = TxLog.read(spark, idx)
    assert(IndexFollower.tombstonesOf(st1).collect().map(_.getLong(0)).toSet
      === Set(5L, 25L))
    assert(IndexFollower.nodesOf(st1).select(col("id")).distinct().count() === 50L)
    // tombstoned ids are never served
    val res = IndexFollower.searchIndex(spark, idx, df(Seq(5L)), "id", "vec", 50, cfg)
    assert(!res.collect().map(_.getLong(1)).contains(5L))
    assert(!res.collect().map(_.getLong(1)).contains(25L))
    // many more deletes cross EVERY shard's threshold (the compaction
    // ratio is per shard now — r10 verdict #1): the next advance rebuilds
    // each shard over its survivors and retires all tombstones
    TxLog.deleteRows(spark, src, col("id") >= 10L)
    assert(follow(0.5))
    val st2 = TxLog.read(spark, idx)
    assert(IndexFollower.tombstonesOf(st2).isEmpty, "crossing compactFrac must compact")
    assert(IndexFollower.nodesOf(st2).select(col("id")).collect().map(_.getLong(0)).toSet
      === TxLog.read(spark, src).select(col("id")).collect().map(_.getLong(0)).toSet)
  }

  test("advances are shard-scoped: untouched shards' state segments carry VERBATIM; delete-only appends") {
    val root = graft.io.TempDirs.create("idxf6_")
    val src = root.resolve("src").toString
    val idx = root.resolve("idx").toString
    val cfg4 = cfg.copy(shards = 4)
    def follow() = IndexFollower.followIndex(spark, src, idx, "c", "id", "vec", cfg4)
    TxLog.create(spark, src, df(0L until 200L))
    assert(follow())
    val boot = TxLog.latest(idx)
    assert(boot.segments.size === 4, "bootstrap must write one segment per shard")
    // delete-only advance below every threshold: ALL node segments carry
    // verbatim, exactly one tombstone segment appends
    TxLog.deleteRows(spark, src, col("id").isin(11L, 77L))
    assert(follow())
    val afterDel = TxLog.latest(idx)
    assert(boot.segments.forall(afterDel.segments.contains),
      "delete-only advance must keep every node segment verbatim")
    assert(afterDel.segments.size === 5)
    // single-id update: exactly ONE shard rebuilds; the other three node
    // segments carry verbatim in the manifest
    TxLog.upsert(spark, src, df(Seq(42L), neg = true), Seq("id"))
    assert(follow())
    val afterUpd = TxLog.latest(idx)
    val carried = afterDel.segments.toSet.intersect(afterUpd.segments.toSet)
    assert(carried.size >= 3,
      s"an update confined to one shard must carry >= 3 of 4 node segments " +
        s"verbatim, carried only ${carried.size}")
    // correctness unchanged: the updated id serves its NEW vector, the
    // deleted ids never surface, coverage is exact
    val state = TxLog.read(spark, idx)
    assert(IndexFollower.nodesOf(state).filter(col("id") === 42L)
      .head().getSeq[Float](2) === vecOf(42L).map(x => -x))
    val res = IndexFollower.searchIndex(spark, idx, df(Seq(11L)), "id", "vec", 100, cfg4)
      .collect().map(_.getLong(1)).toSet
    assert(!res.contains(11L) && !res.contains(77L))
    val nodeIds = IndexFollower.nodesOf(state).select(col("id"))
      .collect().map(_.getLong(0)).toSet
    val tombIds = IndexFollower.tombstonesOf(state)
      .collect().map(_.getLong(0)).toSet
    val liveIds = TxLog.read(spark, src).select(col("id"))
      .collect().map(_.getLong(0)).toSet
    assert(nodeIds -- tombIds === liveIds,
      "graph minus tombstones must equal the live corpus")
  }

  test("minhash follower: state exactly equals a fresh build over the live corpus; gate finds planted near-dups") {
    val root = graft.io.TempDirs.create("idxf4_")
    val src = root.resolve("src").toString
    val idx = root.resolve("mh").toString
    val cfg = Dedup.MinHashConfig(numHashes = 64, bands = 16)
    def textOf(i: Long) = s"document number $i with some shared boilerplate words " +
      s"alpha beta gamma delta epsilon zeta eta theta iota kappa token$i"
    def docs(ids: Seq[Long], suffix: String = "") =
      ids.map(i => (i, textOf(i) + suffix)).toDF("doc_id", "text")
    def follow() = IndexFollower.followMinhashIndex(spark, src, idx, "m", "doc_id", "text", cfg)
    TxLog.create(spark, src, docs(0L until 20L))
    assert(follow())
    TxLog.append(spark, src, docs(20L until 40L))
    // update two texts + insert two, then dv-delete three
    TxLog.upsert(spark, src,
      docs(Seq(1L, 2L), " rewritten").unionByName(docs(Seq(40L, 41L))), Seq("doc_id"))
    TxLog.deleteRows(spark, src, col("doc_id").isin(5L, 25L, 33L))
    assert(follow())
    assert(!follow(), "caught up: replay must be skipped")
    val live = TxLog.read(spark, src)
    val followed = IndexFollower.minhashIndexOf(TxLog.read(spark, idx))
    val rebuilt = Dedup.buildMinhashIndex(live, "doc_id", "text", cfg)
    def eqRel(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    assert(eqRel(followed.bands, rebuilt.bands), "band table must equal a fresh build")
    assert(eqRel(followed.base, rebuilt.base), "verification base must equal a fresh build")
    // the ingest admission gate works against the FOLLOWED index: a batch
    // doc nearly identical to corpus doc 7 is flagged; doc 5 was erased so
    // its near-twin is admitted
    val batch = Seq((100L, textOf(7L) + " tail"), (101L, textOf(5L) + " tail"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ingestNearDupPairs(batch, "doc_id", "text", followed, 0.6, cfg)
      .select(col("batch_id"), col("corpus_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((100L, 7L)))
    assert(!pairs.exists(_._2 == 5L), "erased corpus ids must not gate new documents")
    // below compactFrac every advance was APPEND-SHAPED: each version's
    // segments holding rows are a superset of its parent's (no state row
    // ever rewrote; the bootstrap drops only the zero-row segment `create`
    // wrote)
    val h = TxLog.history(idx)
    assert(h.sliding(2).forall(w =>
      w(0).segments.filterNot(sg => w(0).rowCounts.get(sg).contains(0L))
        .forall(w(1).segments.contains)),
      s"advances must append, got ${h.map(_.segments.size)}")
    assert(TxLog.read(spark, idx).filter(col("kind") === "tomb").count() > 0)
    // a delete wave crossing compactFrac MATERIALIZES: tombstones retire,
    // the resolved state still equals a fresh build
    TxLog.deleteRows(spark, src, col("doc_id") < 15L)
    assert(follow())
    val stComp = TxLog.read(spark, idx)
    assert(stComp.filter(col("kind") === "tomb").isEmpty,
      "crossing compactFrac must retire every tombstone")
    val followed2 = IndexFollower.minhashIndexOf(stComp)
    val rebuilt2 = Dedup.buildMinhashIndex(TxLog.read(spark, src), "doc_id", "text", cfg)
    assert(eqRel(followed2.bands, rebuilt2.bands) && eqRel(followed2.base, rebuilt2.base))
  }

  test("ivf-pq follower: insert advances append, tombstones serve, crossing thresholds rebuilds") {
    val root = graft.io.TempDirs.create("idxf5_")
    val src = root.resolve("src").toString
    val idx = root.resolve("pq").toString
    val ivfCfg = Similarity.IvfConfig(nlist = 8, nprobe = 8)
    val pqCfg = Similarity.PqConfig(m = 4, ksub = 16)
    def nrm(v: Seq[Float]): Seq[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      if (n == 0f) v else v.map(_ / n)
    }
    def ndf(ids: Seq[Long], neg: Boolean = false) =
      ids.map(i => (i, nrm(if (neg) vecOf(i).map(x => -x) else vecOf(i)))).toDF("id", "vec")
    def follow(frac: Double = 0.5) = IndexFollower.followIvfPq(
      spark, src, idx, "c", "id", "vec", ivfCfg, pqCfg, compactFrac = frac)

    TxLog.create(spark, src, ndf(0L until 60L))
    assert(follow(), "bootstrap must advance")
    TxLog.append(spark, src, ndf(60L until 90L))
    assert(follow(), "append must advance")
    // the insert advance APPENDED: every prior state segment carried verbatim
    val h = TxLog.history(idx)
    assert(h.init.last.segments.forall(h.last.segments.contains),
      "insert advance must append, not rewrite the state")
    // update three ids + dv-delete three others: tombstones, still append
    TxLog.upsert(spark, src, ndf(Seq(3L, 17L, 33L), neg = true), Seq("id"))
    TxLog.deleteRows(spark, src, col("id").isin(5L, 25L, 70L))
    assert(follow())
    assert(!follow(), "caught up: replay must be skipped")
    val (ivf, pq) = IndexFollower.ivfPqOf(TxLog.read(spark, idx))
    val liveIds = TxLog.read(spark, src).select(col("id")).collect().map(_.getLong(0)).toSet
    assert(ivf.assigned.select(col("neighbor_id"))
      .collect().map(_.getLong(0)).toSet === liveIds)
    assert(pq.codes.count() === liveIds.size.toLong)
    // updated id serves its NEW (negated) vector
    val v3 = ivf.assigned.filter(col("neighbor_id") === 3L)
      .select(col("__dv")).head().getSeq[Float](0)
    assert(v3 === nrm(vecOf(3L).map(x => -x)))
    // serving: deleted ids absent, recall sane against brute over live
    val q = ndf(Seq(500L, 501L))
    val res = IndexFollower.searchFollowedIvfPq(spark, idx, q, "id", "vec",
      k = 5, nprobe = 8, rerank = 60)
    val served = res.collect().map(_.getLong(1)).toSet
    assert(!served.contains(5L) && !served.contains(25L) && !served.contains(70L))
    val brute = Similarity.bruteTopK(TxLog.read(spark, src), "id", "vec",
      q, "id", "vec", k = 5)
    val hitRate = res.join(brute.select(col("query_id"), col("neighbor_id")),
      Seq("query_id", "neighbor_id"), "left_semi").count().toDouble / brute.count()
    assert(hitRate >= 0.6, s"recall too low: $hitRate")
    // a delete wave crossing compactFrac triggers the full rebuild:
    // tombstones retire, quantizers retrain, coverage holds
    TxLog.deleteRows(spark, src, col("id") >= 40L && col("id") < 85L)
    assert(follow())
    val st = TxLog.read(spark, idx)
    assert(st.filter(col("kind") === "tomb").isEmpty,
      "crossing compactFrac must rebuild and retire tombstones")
    val (ivf2, _) = IndexFollower.ivfPqOf(st)
    assert(ivf2.assigned.select(col("neighbor_id")).collect().map(_.getLong(0)).toSet
      === TxLog.read(spark, src).select(col("id")).collect().map(_.getLong(0)).toSet)
  }

  test("floor overrun: vacuum past a paused follower's mark refuses by default; Rebootstrap folds the snapshot") {
    val root = graft.io.TempDirs.create("idxf7_")
    val src = root.resolve("src").toString
    val idx = root.resolve("idx").toString
    def follow(mode: IndexFollower.FloorOverrun) =
      IndexFollower.followIndex(spark, src, idx, "c", "id", "vec", cfg,
        onFloorOverrun = mode)
    TxLog.create(spark, src, df(0L until 30L))                          // v0
    assert(follow(IndexFollower.FloorOverrun.Refuse))                   // mark = 0
    // the follower pauses; the source moves on and a vacuum reclaims its
    // position (retainVersions=1 → floor = the vacuum commit's version)
    TxLog.append(spark, src, df(30L until 40L))                         // v1
    TxLog.deleteRows(spark, src, col("id") < 5L)                        // v2
    TxLog.vacuum(spark, src, retainVersions = 1)                        // v3, floor 3
    assert(TxLog.retentionFloor(src) > 0L)
    // default: loud, actionable refusal
    val e = intercept[RuntimeException] { follow(IndexFollower.FloorOverrun.Refuse) }
    assert(e.getMessage.contains("vacuum retention floor") &&
      e.getMessage.contains("Rebootstrap"), s"got: ${e.getMessage}")
    // Rebootstrap: the next advance folds the current snapshot as a fresh
    // bootstrap — state equals a from-scratch build, following resumes
    assert(follow(IndexFollower.FloorOverrun.Rebootstrap))
    val state = TxLog.read(spark, idx)
    val nodeIds = IndexFollower.nodesOf(state).select(col("id"))
      .collect().map(_.getLong(0)).toSet
    val liveIds = TxLog.read(spark, src).select(col("id"))
      .collect().map(_.getLong(0)).toSet
    assert(nodeIds === liveIds)
    assert(IndexFollower.tombstonesOf(state).isEmpty)
    // and byte-equality with a from-scratch build over the live corpus
    val rebuilt = GraphAnn.hnswBuild(TxLog.read(spark, src), "id", "vec", cfg)
      .collect().map(_.toString).sorted.toSeq
    assert(IndexFollower.nodesOf(state).collect().map(_.toString).sorted.toSeq === rebuilt)
    // following continues normally from the re-bootstrap mark
    TxLog.append(spark, src, df(40L until 45L))
    assert(follow(IndexFollower.FloorOverrun.Refuse))
    assert(IndexFollower.nodesOf(TxLog.read(spark, idx)).count() === 45 - 5)

    // the minhash follower shares the discipline
    val msrc = root.resolve("msrc").toString
    val midx = root.resolve("midx").toString
    def mdf(ids: Seq[Long]) = ids.map(i => (i, s"tok${i} tok${i + 1} tok${i + 2}"))
      .toDF("id", "text")
    TxLog.create(spark, msrc, mdf(0L until 20L))
    assert(IndexFollower.followMinhashIndex(spark, msrc, midx, "m", "id", "text"))
    TxLog.append(spark, msrc, mdf(20L until 30L))
    TxLog.vacuum(spark, msrc, retainVersions = 1)
    intercept[RuntimeException] {
      IndexFollower.followMinhashIndex(spark, msrc, midx, "m", "id", "text")
    }
    assert(IndexFollower.followMinhashIndex(spark, msrc, midx, "m", "id", "text",
      onFloorOverrun = IndexFollower.FloorOverrun.Rebootstrap))
    val mres = IndexFollower.minhashIndexOf(TxLog.read(spark, midx))
    assert(mres.base.select(col("id")).collect().map(_.getLong(0)).toSet
      === (0L until 30L).toSet)
  }

  test("two followers with distinct consumer ids ride one source independently") {
    val root = graft.io.TempDirs.create("idxf3_")
    val src = root.resolve("src").toString
    TxLog.create(spark, src, df(0L until 30L))
    TxLog.append(spark, src, df(30L until 60L))
    val idxA = root.resolve("a").toString
    val idxB = root.resolve("b").toString
    assert(IndexFollower.followIndex(spark, src, idxA, "a", "id", "vec", cfg))
    TxLog.append(spark, src, df(60L until 90L))
    assert(IndexFollower.followIndex(spark, src, idxA, "a", "id", "vec", cfg))
    assert(IndexFollower.followIndex(spark, src, idxB, "b", "id", "vec", cfg))
    for (idx <- Seq(idxA, idxB)) {
      val st = TxLog.read(spark, idx)
      assert(IndexFollower.nodesOf(st).count() === 90L)
    }
  }

  // ---- three followers of one source -------------------------------------

  private val hnswCfg4 = cfg.copy(shards = 4)
  private val ivfCfg = Similarity.IvfConfig(nlist = 8, nprobe = 8)
  private val pqCfg = Similarity.PqConfig(m = 4, ksub = 16)
  private val mhCfg = Dedup.MinHashConfig(numHashes = 64, bands = 16)

  private def unit(v: Seq[Float]): Seq[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    if (n == 0f) v else v.map(_ / n)
  }

  /** Documents with an embedding and a text; `salt` changes both. */
  private def docs(ids: Seq[Long], salt: Long = 0L, ver: Long = 0L) =
    ids.map(i => (i, unit(vecOf(i * 31L + salt)),
      s"document $i salt $salt shared words alpha beta gamma delta token${i + salt}", ver))
      .toDF("doc_id", "embedding", "text", "ver")

  private def followAll(src: String, root: java.nio.file.Path, tag: String): Seq[Boolean] = Seq(
    IndexFollower.followIndex(spark, src, root.resolve(s"hnsw$tag").toString, "ann",
      "doc_id", "embedding", hnswCfg4),
    IndexFollower.followIvfPq(spark, src, root.resolve(s"pq$tag").toString, "pq",
      "doc_id", "embedding", ivfCfg, pqCfg),
    IndexFollower.followMinhashIndex(spark, src, root.resolve(s"mh$tag").toString, "mh",
      "doc_id", "text", mhCfg))

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Each followed state serves exactly the live source: HNSW nodes minus
    * tombstones and the IVF-PQ assigned rows carry the live (id, vector)
    * pairs, and the resolved MinHash index equals a fresh build. */
  private def assertFollows(src: String, root: java.nio.file.Path, tag: String): Unit = {
    val live = TxLog.read(spark, src)
    val liveVecs = live.select(col("doc_id").as("id"), col("embedding").as("vec"))
    val hs = TxLog.read(spark, root.resolve(s"hnsw$tag").toString)
    val served = IndexFollower.nodesOf(hs).select(col("id"), col("vec"))
      .join(IndexFollower.tombstonesOf(hs), Seq("id"), "left_anti")
    assert(sameRows(served, liveVecs), "HNSW graph minus tombstones must equal the live vectors")
    val (ivf, _) = IndexFollower.ivfPqOf(TxLog.read(spark, root.resolve(s"pq$tag").toString))
    assert(sameRows(ivf.assigned.select(col("neighbor_id").as("id"), col("__dv").as("vec")),
      liveVecs), "IVF-PQ assigned rows must equal the live vectors")
    val mh = IndexFollower.minhashIndexOf(TxLog.read(spark, root.resolve(s"mh$tag").toString))
    val fresh = Dedup.buildMinhashIndex(live, "doc_id", "text", mhCfg)
    assert(sameRows(mh.bands, fresh.bands) && sameRows(mh.base, fresh.base),
      "MinHash index must equal a fresh build over the live corpus")
  }

  test("three followers of one source share each range's batch; a re-created source gets a fresh one") {
    val root = graft.io.TempDirs.create("idxf8_")
    val src = root.resolve("src").toString
    TxLog.create(spark, src, docs(0L until 120L))
    assert(followAll(src, root, "") === Seq(true, true, true))
    TxLog.append(spark, src, docs(120L until 140L))
    assert(followAll(src, root, "") === Seq(true, true, true))
    assertFollows(src, root, "")
    TxLog.upsert(spark, src, docs(Seq(3L, 50L, 121L), salt = 7L, ver = 1L), Seq("doc_id"))
    assert(followAll(src, root, "") === Seq(true, true, true))
    assertFollows(src, root, "")
    // a CDC batch: two updates (one of them twice, the later ver wins),
    // one delete and one insert
    val cdc = docs(Seq(10L), salt = 9L, ver = 2L)
      .unionByName(docs(Seq(10L), salt = 11L, ver = 3L))
      .unionByName(docs(Seq(60L, 200L), salt = 9L, ver = 3L)).withColumn("op", lit("U"))
      .unionByName(docs(Seq(70L), ver = 3L).withColumn("op", lit("D")))
    TxLog.applyChanges(spark, src, cdc, Seq("doc_id"), Seq(col("ver")), "op")
    assert(followAll(src, root, "") === Seq(true, true, true))
    assertFollows(src, root, "")
    TxLog.deleteRows(spark, src, col("doc_id").isin(5L, 80L, 130L))
    assert(followAll(src, root, "") === Seq(true, true, true))
    assertFollows(src, root, "")
    // the cached batch must also survive its blocks being dropped: the
    // next follower over the same range recomputes instead of failing
    TxLog.append(spark, src, docs(140L until 150L))
    val held = spark.sparkContext.getPersistentRDDs.keySet
    assert(IndexFollower.followIndex(spark, src, root.resolve("hnsw").toString, "ann",
      "doc_id", "embedding", hnswCfg4))
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if !held.contains(id) => rdd.unpersist(blocking = true)
    }
    assert(followAll(src, root, "").drop(1) === Seq(true, true))
    assertFollows(src, root, "")

    // drop the source and re-create it at the same path with the same
    // version count but other rows: a fresh follower must see the new
    // rows, not the batch cached for the old range (0, 1]
    val src1 = root.resolve("src1").toString
    TxLog.create(spark, src1, docs(0L until 60L))
    assert(followAll(src1, root, "_a") === Seq(true, true, true))
    TxLog.append(spark, src1, docs(60L until 80L))
    assert(followAll(src1, root, "_a") === Seq(true, true, true))
    val p = java.nio.file.Paths.get(src1)
    java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(f => java.nio.file.Files.delete(f))
    TxLog.create(spark, src1, docs(0L until 60L, salt = 5L))
    assert(followAll(src1, root, "_b") === Seq(true, true, true))
    TxLog.append(spark, src1, docs(300L until 320L, salt = 5L))
    assert(followAll(src1, root, "_b") === Seq(true, true, true))
    assertFollows(src1, root, "_b")
  }

  test("jobs per non-bootstrap advance stay at their pinned bounds") {
    val root = graft.io.TempDirs.create("idxf9_")
    val src = root.resolve("src").toString
    TxLog.create(spark, src, docs(0L until 200L))
    followAll(src, root, "")
    // the two rounds of a benchmark cycle: an append and a keyed erasure,
    // then an upsert, a CDC batch and a predicate delete
    val rounds: Seq[() => Unit] = Seq(
      () => {
        TxLog.append(spark, src, docs(200L until 220L))
        TxLog.deleteRowsKeyed(spark, src, Seq(7L, 8L, 9L).toDF("doc_id"), Seq("doc_id"))
      },
      () => {
        TxLog.upsert(spark, src, docs(Seq(11L, 99L, 150L), salt = 3L), Seq("doc_id"))
        TxLog.applyChanges(spark, src,
          docs(Seq(12L, 300L), salt = 4L).withColumn("op", lit("U"))
            .unionByName(docs(Seq(13L)).withColumn("op", lit("D"))),
          Seq("doc_id"), Seq(col("ver")), "op")
        TxLog.deleteRows(spark, src, col("doc_id").isin(20L, 21L))
      })
    // bound = the jobs each advance runs on this fixture (HNSW 15 and 23,
    // IVF-PQ 7, MinHash 6), plus a margin of 2. HNSW advances first and
    // collapses the batch the other two reuse.
    val bounds = Seq("hnsw" -> Seq(17, 25), "ivfpq" -> Seq(9, 9), "minhash" -> Seq(8, 8))
    rounds.zipWithIndex.foreach { case (commit, r) =>
      commit()
      def jobsOf[T](body: => T) = graft.JobProfile.jobsOf(spark)(body)
      val counts = Seq(
        jobsOf(IndexFollower.followIndex(spark, src, root.resolve("hnsw").toString, "ann",
          "doc_id", "embedding", hnswCfg4)),
        jobsOf(IndexFollower.followIvfPq(spark, src, root.resolve("pq").toString, "pq",
          "doc_id", "embedding", ivfCfg, pqCfg)),
        jobsOf(IndexFollower.followMinhashIndex(spark, src, root.resolve("mh").toString, "mh",
          "doc_id", "text", mhCfg)))
      bounds.zip(counts).foreach { case ((kind, bs), (advanced, jobs)) =>
        assert(advanced, s"$kind must advance in round $r")
        assert(jobs.size <= bs(r), s"$kind advance in round $r ran ${jobs.size} jobs, " +
          s"bound ${bs(r)}: ${jobs.mkString(", ")}")
      }
    }
    assertFollows(src, root, "")
  }

  test("minhash state carries no zero-row segment and one footer schema") {
    val root = graft.io.TempDirs.create("idxf10_")
    val src = root.resolve("src").toString
    val idx = root.resolve("mh").toString
    TxLog.create(spark, src, docs(0L until 40L))
    assert(IndexFollower.followMinhashIndex(spark, src, idx, "mh", "doc_id", "text", mhCfg))
    TxLog.upsert(spark, src, docs(Seq(3L, 41L), salt = 2L), Seq("doc_id"))
    assert(IndexFollower.followMinhashIndex(spark, src, idx, "mh", "doc_id", "text", mhCfg))
    val snap = TxLog.latest(idx)
    assert(snap.segments.size === 2)
    assert(snap.segments.forall(sg => snap.rowCounts.get(sg).exists(_ > 0L)),
      s"zero-row segment in ${snap.rowCounts}")
    val conf = spark.sessionState.newHadoopConf()
    val schemas = snap.segments.flatMap { sg =>
      java.nio.file.Files.list(java.nio.file.Paths.get(idx, sg)).toArray.toSeq
        .map(_.toString).filter(_.endsWith(".parquet"))
        .map(f => org.apache.parquet.hadoop.ParquetFileReader.readFooter(conf,
          new org.apache.hadoop.fs.Path(f),
          org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
          .getFileMetaData.getSchema.toString)
    }.distinct
    assert(schemas.size === 1, s"segment footers differ: ${schemas.mkString("\n")}")
  }
}
