package graft.ext

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

/**
 * Graph-tier ANN: sharded HNSW (Malkov & Yashunin, "Efficient and robust
 * approximate nearest neighbor search using Hierarchical Navigable Small
 * World graphs", TPAMI 2018) — the index family that beats IVF at high
 * recall on skewed corpora, completing the FAISS-style lineup
 * (brute/LSH/IVF/PQ/SQ/binary in [[Similarity]]/[[graft.ext.VectorOps]]).
 *
 * Distribution model is the production sharded-HNSW shape (every serving
 * engine distributes HNSW this way — graph traversal is pointer-chasing,
 * so the graph itself never spans machines): vectors hash-route into
 * `shards` independent sub-corpora, each shard builds its own in-memory
 * HNSW inside ONE task (mapPartitions — corpus vectors never shuffle
 * again after the single routing exchange), and a query fans out to all
 * shards, beam-searches each local graph in O(ef·M·log n) distance
 * evaluations instead of O(n/shards), then merges the per-shard top-k
 * (a |queries|·shards·k relation — tiny) with one bounded window.
 *
 * Determinism (the oracle discipline): node levels are a hash of the id
 * (geometric p=1/4, no RNG), insertion order is sorted by id, and every
 * candidate ordering tie-breaks on id — two builds of the same corpus are
 * byte-identical, so the index is a cacheable artifact (rows of
 * (shard, id, vec, per-level neighbor lists) — plain parquet).
 *
 * Scale notes: one shard's graph must fit one executor's heap (~1 GB per
 * ~1M×64d nodes with M=8) — `shards` is the knob, exactly like every
 * serving deployment. Queries ride the bounded driver funnel
 * ([[Similarity.pqTopK]]'s maxQueryRows discipline): the fan-out is
 * broadcast-sized and refuses loudly rather than OOM.
 */
object GraphAnn {

  /** @param m              max neighbors per node per upper level (level 0
    *                       keeps 2m, the standard HNSW Mmax0)
    * @param efConstruction beam width while inserting
    * @param efSearch       beam width while querying (recall knob)
    * @param shards         independent sub-graphs; each must fit one task's heap
    * @param maxQueryRows   loud cap on the driver-collected query fan-out */
  final case class HnswConfig(
      m: Int = 8,
      efConstruction: Int = 64,
      efSearch: Int = 48,
      shards: Int = 4,
      maxLevel: Int = 6,
      maxQueryRows: Int = 10000)

  /** Deterministic HNSW level: geometric with p = 1/4 from the id's
    * avalanched trailing zeros — no RNG, so rebuilds are identical. */
  private[ext] def levelOf(id: Long, maxLevel: Int): Int = {
    val h = scala.util.hashing.byteswap64(id) | (1L << 62) // never 0
    math.min(maxLevel, java.lang.Long.numberOfTrailingZeros(h) / 2)
  }

  /** The shard an id hash-routes into — the SAME arithmetic
    * [[hnswBuild]] bakes into the artifact rows, exposed so callers
    * (the scoped follower, specs, probes) can reason about which shards
    * a batch touches without reading the index. */
  def shardOfExpr(id: org.apache.spark.sql.Column, shards: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(id.cast("long")), lit(shards.toLong)).cast("int")

  /** Distinct shards a set of ids routes into — bounded by `shards`. */
  private def touchedShards(ids: DataFrame, idCol: String, shards: Int): Set[Int] =
    ids.select(shardOfExpr(col(idCol), shards).as("__s")).distinct()
      .collect().map(_.getInt(0)).toSet

  private val indexSchema = StructType(Seq(
    StructField("shard", IntegerType), StructField("id", LongType),
    StructField("vec", ArrayType(FloatType)),
    StructField("levels", ArrayType(ArrayType(LongType))),
    StructField("cfg", StringType)))

  /** The structural knobs baked into a persisted index. Query/insert-time
    * cfgs MUST match on these: a mismatched maxLevel/m would silently
    * truncate persisted neighbor levels and degrade recall — the artifact
    * records them so the mismatch fails loudly instead. */
  private[ext] def cfgTag(cfg: HnswConfig): String =
    s"m=${cfg.m};maxLevel=${cfg.maxLevel}"

  private def requireCfgMatch(rowCfg: String, cfg: HnswConfig, where: String): Unit =
    require(rowCfg == cfgTag(cfg),
      s"$where: index was built with [$rowCfg] but cfg says [${cfgTag(cfg)}] — " +
        "m/maxLevel are structural; query and insert with the build-time values")

  /** cosine DISTANCE (1 − cos); zero-norm vectors are infinitely far from
    * everything but themselves, matching vec_cosine's similarity-0 guard. */
  private def cosDist(a: Array[Float], na: Double, b: Array[Float], nb: Double): Double = {
    if (na == 0.0 || nb == 0.0) return 1.0
    var dot = 0.0
    var i = 0
    while (i < a.length) { dot += a(i).toDouble * b(i).toDouble; i += 1 }
    1.0 - dot / (na * nb)
  }

  private def norm(a: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * a(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  /** In-task HNSW over one shard's nodes. ids must be pre-sorted. */
  private final class LocalGraph(
      val ids: Array[Long], val vecs: Array[Array[Float]], cfg: HnswConfig) {
    val n: Int = ids.length
    val norms: Array[Double] = vecs.map(norm)
    val nodeLevel: Array[Int] = ids.map(levelOf(_, cfg.maxLevel))
    // neighbors(node)(level) = sorted ArrayBuffer of node indices
    val neighbors: Array[Array[scala.collection.mutable.ArrayBuffer[Int]]] =
      Array.tabulate(n)(i => Array.fill(nodeLevel(i) + 1)(
        new scala.collection.mutable.ArrayBuffer[Int]()))
    var entry: Int = -1 // current top entry point

    private def dist(i: Int, q: Array[Float], nq: Double): Double =
      cosDist(vecs(i), norms(i), q, nq)

    /** Greedy single-path descent at `level` from `start`. */
    private def greedy(q: Array[Float], nq: Double, start: Int, level: Int): Int = {
      var cur = start
      var curD = dist(cur, q, nq)
      var improved = true
      while (improved) {
        improved = false
        val nb = neighbors(cur)(level)
        var j = 0
        while (j < nb.length) {
          val d = dist(nb(j), q, nq)
          // strict improvement with id tie-break keeps the walk deterministic
          if (d < curD || (d == curD && ids(nb(j)) < ids(cur))) {
            cur = nb(j); curD = d; improved = true
          }
          j += 1
        }
      }
      cur
    }

    /** Beam search at `level`: the ef closest visited ALLOWED nodes.
      * `allow == null` admits everything. Filtered semantics follow the
      * standard filtered-HNSW discipline: traversal expands through ANY
      * node (disallowed nodes keep the graph connected) but only allowed
      * nodes enter the result beam — no post-filter recall loss beyond
      * the beam width. Returns (dist, idx) ascending (id tie-break).
      * `visited` counts distance evaluations (sublinearity evidence). */
    private def beam(q: Array[Float], nq: Double, start: Int, level: Int,
        ef: Int, visited: LongAccumulator,
        allow: java.util.function.LongPredicate = null,
        budgeted: Boolean = true): Seq[(Double, Int)] = {
      val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)
      val seen = new java.util.HashSet[Integer]()
      val cand = new scala.collection.mutable.PriorityQueue[(Double, Int)]()(ord.reverse)
      val best = new scala.collection.mutable.PriorityQueue[(Double, Int)]()(ord)
      def admissible(i: Int): Boolean = allow == null || allow.test(ids(i))
      // FILTERED searches carry an expansion budget: with a very sparse
      // allow-set in this shard, `best` never fills to ef and the beam
      // would otherwise walk the whole connected component — O(n) evals
      // per query. The budget (generous vs the unfiltered beam's natural
      // footprint) returns the best-so-far instead; predicates selective
      // enough to hit it belong in the semi-joining filtered tiers
      // (searchSq/searchIvfPq), which scan only allowed rows. The budget
      // keys on ALLOW-SET presence only (`budgeted`): a delete-list-only
      // predicate never shrinks the admissible set enough to cause the
      // sparse-allow O(n) walk, so budgeting it could silently truncate a
      // semantically unfiltered query (ADVICE r8).
      val budget: Long =
        if (allow == null || !budgeted) Long.MaxValue
        else math.max(4096L, 64L * ef * cfg.m)
      var evals = 1L
      val d0 = dist(start, q, nq)
      if (visited != null) visited.add(1L)
      seen.add(start); cand.enqueue((d0, start))
      if (admissible(start)) best.enqueue((d0, start))
      while (cand.nonEmpty) {
        val (d, u) = cand.dequeue()
        if (best.size >= ef && d > best.head._1) { cand.clear() }
        else {
          val nb = neighbors(u)(level)
          var j = 0
          while (j < nb.length) {
            val v = nb(j)
            if (seen.add(v)) {
              val dv = dist(v, q, nq)
              evals += 1
              if (visited != null) visited.add(1L)
              if (best.size < ef || dv < best.head._1 ||
                  (dv == best.head._1 && v < best.head._2)) {
                cand.enqueue((dv, v))
                if (admissible(v)) {
                  best.enqueue((dv, v))
                  if (best.size > ef) best.dequeue()
                }
              }
            }
            j += 1
          }
          if (evals >= budget) cand.clear()
        }
      }
      best.dequeueAll.reverse.toSeq // ascending distance
    }

    private def maxM(level: Int): Int = if (level == 0) 2 * cfg.m else cfg.m

    /** Adjacency lists are kept CANONICALLY index-sorted at all times, so
      * the in-build state after inserting nodes 0..k equals the state a
      * reloaded (persisted, id-sorted) index adopts — the invariant that
      * makes [[GraphAnn.hnswInsert]] replay a from-scratch build exactly
      * (scan order over neighbors affects beam tie handling; a canonical
      * order removes the degree of freedom). */
    private def insertSorted(nb: scala.collection.mutable.ArrayBuffer[Int], v: Int): Unit = {
      var lo = 0
      var hi = nb.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (nb(mid) < v) lo = mid + 1 else hi = mid
      }
      nb.insert(lo, v)
    }

    def insert(i: Int): Unit = {
      if (entry < 0) { entry = i; return }
      val q = vecs(i)
      val nq = norms(i)
      val l = nodeLevel(i)
      var cur = entry
      var lev = nodeLevel(entry)
      while (lev > l) { cur = greedy(q, nq, cur, math.min(lev, nodeLevel(cur))); lev -= 1 }
      var level = math.min(l, nodeLevel(entry))
      while (level >= 0) {
        val found = beam(q, nq, cur, level, cfg.efConstruction, null)
        val selected = found.take(cfg.m).map(_._2)
        neighbors(i)(level) ++= selected.sorted
        selected.foreach { v =>
          val nb = neighbors(v)(level)
          insertSorted(nb, i)
          if (nb.length > maxM(level)) {
            // prune to the closest maxM (id tie-break) — simple selection,
            // deterministic; the diversity heuristic is a recall refinement
            val pruned = nb.map(x => (cosDist(vecs(x), norms(x), vecs(v), norms(v)), x))
              .sorted.take(maxM(level)).map(_._2).sorted
            nb.clear(); nb ++= pruned
          }
        }
        cur = found.head._2
        level -= 1
      }
      if (l > nodeLevel(entry)) entry = i
    }

    def search(q: Array[Float], nq: Double, k: Int, ef: Int,
        visited: LongAccumulator,
        allow: java.util.function.LongPredicate = null,
        budgeted: Boolean = true): Seq[(Double, Int)] = {
      if (entry < 0) return Seq.empty
      var cur = entry
      var lev = nodeLevel(entry)
      while (lev > 0) { cur = greedy(q, nq, cur, lev); lev -= 1 }
      beam(q, nq, cur, 0, math.max(ef, k), visited, allow, budgeted).take(k)
    }
  }

  private def buildLocal(ids: Array[Long], vecs: Array[Array[Float]],
      cfg: HnswConfig): LocalGraph = {
    val g = new LocalGraph(ids, vecs, cfg)
    var i = 0
    while (i < g.n) { g.insert(i); i += 1 }
    g
  }

  /**
   * Build the sharded index: ONE routing exchange, per-shard in-task graph
   * construction, rows out as a persistable artifact
   * (shard, id, vec, levels = per-level neighbor id lists).
   */
  def hnswBuild(data: DataFrame, idCol: String, vecCol: String,
      cfg: HnswConfig = HnswConfig()): DataFrame = {
    require(cfg.shards >= 1 && cfg.m >= 2 && cfg.efConstruction >= cfg.m,
      s"bad HnswConfig: $cfg")
    val tag = cfgTag(cfg)
    data.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .withColumn("shard", pmod(xxhash64(col("id")), lit(cfg.shards.toLong)).cast("int"))
      .repartition(cfg.shards, col("shard"))
      .mapPartitions { rows =>
        rows.toArray.groupBy(_.getInt(2)).iterator.flatMap { case (shard, rs) =>
          val sorted = rs.map(r =>
            (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
          val g = buildLocal(sorted.map(_._1), sorted.map(_._2), cfg)
          emitRows(shard, g, tag)
        }
      }(Encoders.row(indexSchema))
  }

  private def emitRows(shard: Int, g: LocalGraph, tag: String): Iterator[Row] =
    (0 until g.n).iterator.map { i =>
      val lv: Seq[Seq[Long]] =
        g.neighbors(i).toSeq.map(_.map(g.ids(_)).toSeq.sorted)
      Row(shard, g.ids(i), g.vecs(i).toSeq, lv, tag)
    }

  /** One persisted index row, positionally decoded. `levels == null`
    * marks a not-yet-indexed row (the [[hnswInsert]] batch side). */
  private def decodeRow(r: Row): (Long, Array[Float], Array[Array[Long]]) =
    (r.getLong(1), r.getSeq[Float](2).toArray,
      // inner lists deserialize as mutable.ArraySeq — type with the
      // collection.Seq supertype or the element cast blows up
      if (r.isNullAt(3)) null
      else r.getAs[scala.collection.Seq[scala.collection.Seq[Long]]](3)
        .map(_.toArray).toArray)

  /** Reconstruct one shard's graph from persisted rows: adopt the stored
    * adjacency (id-sorted, the canonical order [[LocalGraph.insert]] also
    * maintains) — no re-insertion — and recover the entry point exactly as
    * a sorted-order build would have left it (the first max-level node in
    * id order). `sorted` must be id-ascending. */
  private def adoptGraph(sorted: Array[(Long, Array[Float], Array[Array[Long]])],
      cfg: HnswConfig): LocalGraph = {
    val ids = sorted.map(_._1)
    val idx = ids.zipWithIndex.toMap
    val g = new LocalGraph(ids, sorted.map(_._2), cfg)
    var i = 0
    while (i < g.n) {
      val lv = sorted(i)._3
      if (lv != null) { // null marks a not-yet-indexed hnswInsert batch row
        var l = 0
        while (l < lv.length && l < g.neighbors(i).length) {
          g.neighbors(i)(l) ++= lv(l).flatMap(idx.get)
          l += 1
        }
        // entry exactly as a sorted-order build left it: the first
        // max-level INDEXED node in id order
        if (g.entry < 0 || g.nodeLevel(i) > g.nodeLevel(g.entry)) g.entry = i
      }
      i += 1
    }
    g
  }

  /**
   * INCREMENTAL ingest — the daily-embedding-batch path that every other
   * index tier already has (MinhashIndex q260, positional mergeIndex
   * q253): route the batch to shards, adopt each shard's persisted graph,
   * insert the new nodes in id order, and emit the updated artifact — the
   * accumulated corpus is NEVER re-indexed. Deterministic hash levels +
   * canonical id-sorted adjacency make the result ORDER-STABLE: when the
   * batch's ids all sort after the indexed ids (the append-ingest shape —
   * new documents get new, larger ids), the inserted index is
   * byte-identical to a from-scratch [[hnswBuild]] over the union (the
   * merge-equals-rebuild contract); interleaved ids still yield a valid
   * deterministic index, just not the literal rebuild.
   *
   * Ids already present in the index are refused loudly (an HNSW node
   * cannot be re-pointed in place — route updates through a rebuild or a
   * delete-list at serve time).
   */
  def hnswInsert(index: DataFrame, newData: DataFrame, idCol: String, vecCol: String,
      cfg: HnswConfig = HnswConfig()): DataFrame =
    hnswInsert(index, newData, idCol, vecCol, cfg,
      touchedShards(newData, idCol, cfg.shards))

  /** [[hnswInsert]] for a caller that already knows `touched`, the exact
    * set of shards the batch routes into: no job to find them. */
  private[ext] def hnswInsert(index: DataFrame, newData: DataFrame, idCol: String,
      vecCol: String, cfg: HnswConfig, touched: Set[Int]): DataFrame = {
    val tag = cfgTag(cfg)
    val batch = newData
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
      .withColumn("shard", shardOfExpr(col("id"), cfg.shards))
      .select(col("shard"), col("id"), col("vec"),
        lit(null).cast(indexSchema("levels").dataType).as("levels"),
        lit(null).cast("string").as("cfg"))
    // SCOPED (r10 verdict #1): only the shards the batch hash-routes into
    // pay the adopt-and-insert; every other shard's rows pass through a
    // narrow filter — never repartitioned, never re-emitted by a task.
    // Shards are independent graphs, so the output is row-identical to
    // the unscoped form.
    val idxAll = index.select(col("shard"), col("id"), col("vec"), col("levels"), col("cfg"))
    if (touched.isEmpty) return idxAll // empty batch
    val hotIdx =
      if (touched.size == cfg.shards) idxAll
      else idxAll.filter(col("shard").isin(touched.toSeq: _*))
    val inserted = hotIdx
      .unionAll(batch)
      .repartition(touched.size, col("shard"))
      .mapPartitions { rows =>
        rows.toArray.groupBy(_.getInt(0)).iterator.flatMap { case (shard, rs) =>
          rs.iterator.filter(!_.isNullAt(4))
            .foreach(r => requireCfgMatch(r.getString(4), cfg, "hnswInsert"))
          val sorted = rs.map(decodeRow).sortBy(_._1)
          sorted.sliding(2).foreach { w =>
            if (w.length == 2) require(w(0)._1 != w(1)._1,
              s"hnswInsert: id ${w(0)._1} is already indexed in shard $shard — " +
                "HNSW nodes are insert-only; rebuild or handle updates at serve time")
          }
          val g = adoptGraph(sorted, cfg)
          var i = 0
          while (i < g.n) {
            if (sorted(i)._3 == null) g.insert(i)
            i += 1
          }
          emitRows(shard, g, tag)
        }
      }(Encoders.row(indexSchema))
    if (touched.size == cfg.shards) inserted
    else inserted.unionAll(idxAll.filter(!col("shard").isin(touched.toSeq: _*)))
  }

  /**
   * TOMBSTONE COMPACTION — the rebuild that RETIRES a serve-time delete
   * list ([[hnswQuery]]'s `deleted` tombstones keep routing the beam
   * because an insert-only graph cannot unlink nodes; this is the "list
   * shrinks to zero at the next rebuild" end of that discipline): the
   * surviving corpus is reconstructed from the index ARTIFACT itself
   * (id, vec ride every row — the original table is not needed), the
   * dead ids drop by a distributed anti-join, and the result rebuilds.
   * SCOPED to the shards that actually CONTAIN a dead id (r10 verdict #1):
   * adjacency is strictly within-shard, so a shard holding no dead id is
   * already byte-identical to its from-scratch rebuild over the survivors
   * and carries through a narrow filter — never repartitioned, never
   * rebuilt. Deterministic hash levels + canonical id-sorted adjacency
   * make each rebuilt shard BYTE-IDENTICAL to a from-scratch
   * [[hnswBuild]] over the survivors (spec-pinned, including a
   * dead-ids-confined-to-one-shard fixture), so a compacted index is
   * indistinguishable from one that never contained the dead ids — serve
   * with an empty delete list afterwards. (Untouched shards whose history
   * includes interleaved-id [[hnswInsert]]s keep their valid insert-shaped
   * adjacency — such shards never referenced a dead id, so retiring the
   * delete list does not require touching them.) A cfg mismatch against
   * the stored tag refuses loudly rather than silently rebuilding with
   * different knobs.
   */
  def hnswCompact(index: DataFrame, deleted: DataFrame, deletedId: String,
      cfg: HnswConfig = HnswConfig()): DataFrame = {
    index.select(col("cfg")).distinct().limit(2).collect()
      .foreach(r => requireCfgMatch(r.getString(0), cfg, "hnswCompact"))
    val dead = deleted.select(col(deletedId).cast("long").as("__dead_id")).distinct()
    val idxAll = index.select(col("shard"), col("id"), col("vec"), col("levels"), col("cfg"))
    // shards that CONTAIN a dead row (a dead id absent from the index
    // touches nothing) — bounded collect, <= cfg.shards rows
    val touched = idxAll.join(dead, col("id") === col("__dead_id"), "left_semi")
      .select(col("shard")).distinct().collect().map(_.getInt(0)).toSet
    if (touched.isEmpty) return idxAll
    val hot = if (touched.size == cfg.shards) idxAll
      else idxAll.filter(col("shard").isin(touched.toSeq: _*))
    val survivors = hot.select(col("id"), col("vec"))
      .join(dead, col("id") === col("__dead_id"), "left_anti")
    val rebuilt = hnswBuild(survivors, "id", "vec", cfg)
    if (touched.size == cfg.shards) rebuilt
    else rebuilt.unionAll(idxAll.filter(!col("shard").isin(touched.toSeq: _*)))
  }

  /**
   * Query the index: queries collect through the bounded funnel, every
   * shard reconstructs its graph once per task and beam-searches all
   * queries, the per-shard top-k merge in one query-partitioned window.
   * Output: (query_id, neighbor_id, cosine, rank) — [[Similarity.bruteTopK]]'s
   * contract. `visited` (optional) accumulates distance evaluations — the
   * sublinearity evidence a probe/spec asserts on.
   */
  def hnswQuery(index: DataFrame, queries: DataFrame, queryId: String,
      queryVec: String, k: Int, cfg: HnswConfig = HnswConfig(),
      visited: LongAccumulator = null,
      allowed: Option[DataFrame] = None,
      maxAllowRows: Int = 2000000,
      deleted: Option[DataFrame] = None): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val qRows = queries.select(col(queryId).cast("long"), col(queryVec))
      .limit(cfg.maxQueryRows + 1).as[(Long, Seq[Float])].collect()
    require(qRows.length <= cfg.maxQueryRows,
      s"hnswQuery fan-out exceeds maxQueryRows=${cfg.maxQueryRows}: batch the " +
        "queries or raise the cap explicitly — an unbounded collect would OOM the driver")
    val qb = spark.sparkContext.broadcast(
      qRows.map { case (id, v) => (id, v.toArray) })
    // FILTERED search: the allow-set broadcasts as a hash set consulted at
    // result-collection time — disallowed nodes still route the beam (the
    // standard filtered-HNSW discipline; index-level, no post-filter
    // recall cliff). Loudly capped: a bigger predicate belongs in the
    // IVF/SQ filtered tiers, which semi-join instead of broadcasting.
    val allowSet = allowed.map { a =>
      val ids = a.select(col(a.columns.head).cast("long"))
        .limit(maxAllowRows + 1).as[Long].collect()
      require(ids.length <= maxAllowRows,
        s"hnswQuery allow-set exceeds maxAllowRows=$maxAllowRows — use the " +
          "semi-joining filtered tiers (searchSq/searchIvfPq) for broad predicates")
      spark.sparkContext.broadcast(ids.toSet)
    }
    // SERVE-TIME DELETE LIST — the standard soft-delete discipline for an
    // insert-only graph index (an HNSW node cannot be unlinked in place
    // without degrading its neighbors' reachability): deleted ids stay in
    // the graph and keep ROUTING the beam, they just never enter results.
    // The list is expected small relative to the corpus (it shrinks to
    // zero at the next rebuild/compaction); the same loud cap applies.
    val deletedSet = deleted.map { d =>
      val ids = d.select(col(d.columns.head).cast("long"))
        .limit(maxAllowRows + 1).as[Long].collect()
      require(ids.length <= maxAllowRows,
        s"hnswQuery delete-list exceeds maxAllowRows=$maxAllowRows — rebuild " +
          "the index instead of serving with a corpus-sized tombstone set")
      spark.sparkContext.broadcast(ids.toSet)
    }
    val outSchema = StructType(Seq(
      StructField("query_id", LongType), StructField("neighbor_id", LongType),
      StructField("cosine", DoubleType)))
    val perShard = index.select(col("shard"), col("id"), col("vec"), col("levels"), col("cfg"))
      .repartition(col("shard")).mapPartitions { rows =>
      rows.toArray.groupBy(_.getInt(0)).iterator.flatMap { case (_, rs) =>
        // the artifact records its structural build knobs; a mismatched
        // query cfg would silently truncate persisted levels (ADVICE r7)
        requireCfgMatch(rs.head.getString(4), cfg, "hnswQuery")
        // adopt the PERSISTED adjacency (no re-insert): levels were built
        // deterministically at hnswBuild time
        val g = adoptGraph(rs.map(decodeRow).sortBy(_._1), cfg)
        val allow: java.util.function.LongPredicate = (allowSet, deletedSet) match {
          case (None, None) => null
          case (a, d) =>
            val as = a.map(_.value)
            val ds = d.map(_.value)
            (id: Long) => as.forall(_.contains(id)) && !ds.exists(_.contains(id))
        }
        // the expansion budget applies only when a real ALLOW-SET narrows
        // the admissible set; a tombstone-only predicate stays unbudgeted
        // (it routes everything and excludes a few ids — no sparse walk)
        val budgeted = allowSet.nonEmpty
        qb.value.iterator.flatMap { case (qid, qv) =>
          val nq = norm(qv)
          g.search(qv, nq, k, cfg.efSearch, visited, allow, budgeted).map { case (d, ni) =>
            Row(qid, g.ids(ni), 1.0 - d)
          }
        }
      }
    }(Encoders.row(outSchema))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    perShard
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** One-shot build + query (the gate/bench shape; real serving persists
    * [[hnswBuild]]'s rows and calls [[hnswQuery]] per batch). */
  def hnswTopK(data: DataFrame, dataId: String, dataVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, cfg: HnswConfig = HnswConfig()): DataFrame =
    hnswQuery(hnswBuild(data, dataId, dataVec, cfg), queries, queryId, queryVec, k, cfg)
}
