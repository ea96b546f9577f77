package graft.ext

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TextExpressionFunctions
import org.apache.spark.storage.StorageLevel
import graft.functions.vec_cosine

/**
 * Deduplication operators for large text/embedding corpora — the
 * training-data-pipeline extension surface (the reference has no dedup at
 * all; its only set semantics is the implicit key-DISTINCT in the semi-join
 * build, /root/reference/src/bin/join.rs:40,72).
 *
 * Scale notes (100 TB):
 *  - every candidate-generation step is a hash-partitioned equi-join on a
 *    SMALL derived key (band hash / bit chunk / n-gram), never a cross join;
 *  - verification (exact jaccard / hamming / cosine) runs only on LSH
 *    candidates;
 *  - all token/shingle/signature math is Spark higher-order functions or
 *    codegen'd Catalyst expressions — no UDFs, stays in WholeStageCodegen.
 */
object Dedup {

  /**
   * Ensure the per-row heavy phase (shingling/hashing via higher-order
   * functions, which run interpreted, not codegen'd) is spread across all
   * cores: small inputs arrive as one or two scan partitions and would
   * otherwise hash on a single thread. No-op when the source already has
   * enough partitions (the 100 TB case).
   */
  private def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Lowercased whitespace tokens; empty text -> empty array. */
  def tokens(text: Column): Column = {
    val t = lower(trim(text))
    when(length(t) === 0, array().cast("array<string>")).otherwise(split(t, "\\s+"))
  }

  /** Distinct word n-gram shingles; a doc shorter than n words is its own
    * single shingle so it still participates in the index. */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    array_distinct(
      when(size(toks) === 0, array().cast("array<string>"))
        .when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
  }

  /**
   * Exact dedup: keep the representative row (minimum `idCol`) per distinct
   * value of `keyCol`. One shuffle (hash-partition by key); the window never
   * materializes a group in memory beyond the partition sort.
   */
  def exactDedup(df: DataFrame, keyCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(idCol))
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /**
   * Quality-aware exact dedup: per group of content-identical documents
   * (whitespace-normalized fingerprint, same key as [[exactDedup]]'s
   * callers use), keep the row with the HIGHEST quality score — ties to the
   * lowest id — instead of blindly the lowest id. This is the curation
   * variant every web-scale pipeline actually wants: duplicate crawls
   * differ in boilerplate damage, and the keep-best policy retains the
   * cleanest copy (e.g. highest quality-classifier score or longest
   * undamaged text).
   *
   * Scale shape: ONE hash aggregation, partial (map-side) combined — the
   * whole surviving row rides inside a `max_by` buffer, so each partition
   * contributes at most one candidate row per distinct fingerprint to the
   * shuffle (a window formulation would shuffle every duplicate copy and
   * sort whole partitions). No join, no window, no sort.
   *
   * Output: the kept rows' original columns plus `n_dups` (group size) and
   * `content_fp` (the group key — the artifact to persist for incremental
   * ingest gating). Same xxhash64-collision caveat as the other
   * fingerprint operators.
   *
   * @param quality any deterministic numeric expression over the row
   *                (cast to double); higher wins
   */
  def dedupKeepBest(df: DataFrame, idCol: String, textCol: String, quality: Column): DataFrame = {
    val cols = df.columns.toSeq
    val packed = df.select(
      contentFingerprint(col(textCol)).as("__fp"),
      struct(cols.map(col): _*).as("__row"),
      struct(quality.cast("double").as("q"),
        (lit(Long.MaxValue) - col(idCol).cast("long")).as("inv_id")).as("__ord"))
    packed.groupBy(col("__fp"))
      .agg(max_by(col("__row"), col("__ord")).as("__row"),
        count(lit(1)).as("n_dups"))
      .select(cols.map(c => col(s"__row.$c").as(c)) ++
        Seq(col("n_dups"), col("__fp").as("content_fp")): _*)
  }

  /**
   * Incremental ingest dedup — the "only admit genuinely new documents"
   * gate every continuously-fed corpus runs on each arriving batch:
   *  1. drop batch docs whose whitespace-normalized content fingerprint
   *     already exists in the corpus (fp-keyed LEFT ANTI join — 8-byte
   *     keys, the corpus text never moves);
   *  2. collapse duplicates WITHIN the batch to the min-id representative.
   * Output: one row per admitted doc with its fp and the batch-internal
   * duplicate count. The corpus side reduces to distinct fingerprints —
   * at any corpus size this is a co-partitioned hash join on longs, and
   * the fp set is exactly the artifact a production pipeline persists
   * between ingests (append the admitted fps and the index stays current).
   * Same xxhash64-collision caveat as the other fingerprint operators.
   */
  /** Whitespace-normalized content fingerprint (the exact-dup key shared by
    * [[incrementalIngest]] and the streaming ingest filter). */
  def contentFingerprint(text: Column): Column =
    xxhash64(concat_ws(" ", tokens(text)))

  def incrementalIngest(
      batch: DataFrame, corpus: DataFrame, idCol: String, textCol: String): DataFrame = {
    val corpusFps = corpus.select(contentFingerprint(col(textCol)).as("__fp")).distinct()
    val w = Window.partitionBy(col("__fp")).orderBy(col(idCol))
    batch.select(col(idCol), contentFingerprint(col(textCol)).as("__fp"))
      .join(corpusFps, Seq("__fp"), "left_anti")
      .withColumn("__rn", row_number().over(w))
      .withColumn("batch_dups", count(lit(1)).over(Window.partitionBy(col("__fp"))))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("__fp").as("content_fp"), col("batch_dups").cast("long").as("batch_dups"))
  }

  /**
   * Chunk-level dedup signal over content-defined chunks (the
   * [[org.apache.spark.sql.graft.CdcAlgo]] kernel): per document, how many
   * of its CDC chunks also appear in at least one OTHER document. Because
   * CDC boundaries re-align after an edit, two near-identical documents
   * share almost all chunk hashes even when fixed-width chunks would all
   * shift — the standard dedup granularity for code/doc corpora between
   * document-level fingerprints and token n-grams. Shape: one generator
   * projection, one hash-keyed count agg (map-side combined), one join
   * back on the 8-byte chunk hash; text never rides a shuffle.
   */
  def cdcChunkShared(
      df: DataFrame, idCol: String, textCol: String,
      minLen: Int = 32, maxLen: Int = 256, maskBits: Int = 5): DataFrame = {
    import org.apache.spark.sql.graft.CdcFunctions
    val ch = df
      .select(col(idCol).as("__cd_id"),
        explode(CdcFunctions.cdc_chunks(col(textCol), minLen, maxLen, maskBits)).as("__c"))
      .select(col("__cd_id"), col("__c.hash").as("__h"))
    val docsPerHash = ch.groupBy(col("__h"))
      .agg(countDistinct(col("__cd_id")).as("__nd"))
    ch.join(docsPerHash, Seq("__h"))
      .groupBy(col("__cd_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__nd") > 1, 1L).otherwise(0L)).as("n_shared_chunks"))
      .select(col("__cd_id").as(idCol), col("n_chunks"), col("n_shared_chunks"),
        (col("n_shared_chunks").cast("double") / col("n_chunks").cast("double"))
          .as("shared_chunk_frac"))
  }

  /** Fixed seed for the shingle-hash fingerprinting shared by every
    * set-similarity operator (minhash / exact jaccard / clustering). A FIXED
    * seed makes the hashed shingle universe identical across operators,
    * which is what lets them share one [[ShingleIndex]] materialization per
    * corpus instead of each re-hashing and re-collapsing the same text. */
  private val ShingleSeed = 0L

  /**
   * Shared set-similarity index over a corpus: the per-doc hashed shingle
   * sets plus the exact-duplicate collapse (one representative per DISTINCT
   * shingle set — m copies of a doc would otherwise enter every LSH bucket /
   * posting list at m² join cost).
   *
   * Scale design:
   *  - `groups` is SLIM — (rid, ids, sz) only. Set identity for the collapse
   *    is established by a 128-bit digest (two independent xxhash64 runs +
   *    the exact size), so the shuffle moves ids and digests, never the
   *    shingle arrays themselves. (The previous design keyed the groupBy on
   *    the full array: a corpus-wide array shuffle even on dup-free data.)
   *    Digest collision probability is ~n²/2¹²⁸ — vanishing at any corpus
   *    size, and a collision's worst case is one false "exact duplicate"
   *    pair, the same failure mode the 64-bit shingle hashes already accept.
   *  - `base` is persisted MEMORY_AND_DISK: every consumer (band signatures,
   *    postings, pair verification) reads the hashed sets at least once, and
   *    the shingle hashing is the dominant per-row CPU. On an extreme corpus
   *    where even spill-backed storage is unwanted, write the base to a
   *    parquet temp table instead and build the index from that.
   *
   * Obtain via [[shingleIndex]] (fresh) or [[sharedShingleIndex]] (memoized
   * per session + source plan — one materialization per pipeline run).
   */
  final case class ShingleIndex private[ext] (
      n: Int,
      base: DataFrame,   // (id, shh sorted hashed shingles, sz) — persisted
      groups: DataFrame) // (rid, ids, sz) — localCheckpoint'ed, slim

  /** Build a [[ShingleIndex]]: one narrow hashing pass + one slim shuffle. */
  def shingleIndex(df: DataFrame, idCol: String, textCol: String, n: Int): ShingleIndex = {
    val base = hashedShingleBase(df, idCol, textCol, n, ShingleSeed)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // 128-bit set identity: two xxhash64 runs over the sorted hash array
    // (the second salted by a leading literal) + the exact element count
    val slim = base.select(col("id"), col("sz"),
      xxhash64(col("shh")).as("d1"), xxhash64(lit(0x9E3779B97F4A7C15L), col("shh")).as("d2"))
    val groups = slim.groupBy(col("d1"), col("d2"), col("sz"))
      .agg(min(col("id")).as("rid"), collect_list(col("id")).as("ids"))
      .select(col("rid"), col("ids"), col("sz"))
      .localCheckpoint()
    ShingleIndex(n, base, groups)
  }

  // memoized indexes, keyed by (session, canonicalized source plan, cols, n):
  // q-pipelines that run minhash + exact-jaccard + clustering over the same
  // corpus share ONE hashing pass and ONE collapse shuffle. BOUNDED: a
  // long-lived session processing many corpora must not accumulate pinned
  // MEMORY_AND_DISK storage, so eviction is LRU with eager unpersist of the
  // evicted base (the groups frame is localCheckpoint'ed — its blocks are
  // reclaimed by the ContextCleaner once the evicted index is unreachable).
  private val MaxCachedIndexes = 2
  private val indexCache =
    new java.util.LinkedHashMap[(Int, String, Int, String, String, Int), ShingleIndex](
      16, 0.75f, /* accessOrder = */ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(Int, String, Int, String, String, Int), ShingleIndex]): Boolean =
        if (size > MaxCachedIndexes) { e.getValue.base.unpersist(false); true } else false
    }

  /** Memoized [[shingleIndex]]: repeated calls with a semantically-equal
    * source in the same session return the already-materialized index.
    * At most [[MaxCachedIndexes]] indexes stay resident (LRU). */
  def sharedShingleIndex(df: DataFrame, idCol: String, textCol: String, n: Int): ShingleIndex = {
    // key on the canonicalized plan's STRING *and* HASH: the string alone
    // is not data-sensitive (LocalRelation prints only its schema, so two
    // same-schema in-memory corpora would collide and share one index);
    // the case-class hash covers the rows
    val canonical = df.queryExecution.analyzed.canonicalized
    val key = (System.identityHashCode(df.sparkSession),
      canonical.toString, canonical.hashCode, idCol, textCol, n)
    indexCache.synchronized {
      val hit = indexCache.get(key)
      if (hit != null) hit
      else {
        val ix = shingleIndex(df, idCol, textCol, n)
        indexCache.put(key, ix)
        ix
      }
    }
  }

  /** Drop all memoized indexes and unpersist their storage. */
  def clearShingleIndexCache(): Unit = indexCache.synchronized {
    indexCache.values.iterator().asScala.foreach(ix => ix.base.unpersist())
    indexCache.clear()
  }

  final case class MinHashConfig(
      numHashes: Int = 128,
      bands: Int = 32,
      shingleSize: Int = 3,
      seed: Long = 42L)

  /**
   * MinHash + LSH near-duplicate pairs: shingle -> minhash signature ->
   * band hashes -> bucket self-join -> exact-jaccard verification.
   * Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
   */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      cfg: MinHashConfig = MinHashConfig()): DataFrame =
    minhashPairs(sharedShingleIndex(df, idCol, textCol, cfg.shingleSize), threshold, cfg)

  /** [[minhashPairs]] over a prebuilt (shareable) [[ShingleIndex]]. */
  def minhashPairs(index: ShingleIndex, threshold: Double, cfg: MinHashConfig): DataFrame = {
    require(cfg.numHashes % cfg.bands == 0, "numHashes must divide evenly into bands")

    // the whole shingle->minhash->band pipeline runs in compiled kernels
    // (interpreted higher-order functions cost ~1µs/element and dominate at
    // corpus scale); identical sets were collapsed by the index (m
    // duplicates would cost m² per bucket). Band signatures are computed on
    // the MEMBER side, before any shuffle: identical sets produce identical
    // signatures, so filtering to representatives afterwards is a slim
    // (id, bands) semi-join — the shingle arrays never leave their scan
    // partitions (computing per-rep instead would need the rep's array
    // post-collapse, i.e. a corpus-wide array join).
    val base = index.base
    val memberBands = base.select(col("id"),
      TextExpressionFunctions.minhash_band_keys(col("shh"), cfg.numHashes, cfg.bands, cfg.seed)
        .as("bands"))
    val repBands = memberBands
      .join(index.groups.select(col("rid").as("id")), Seq("id"), "left_semi")

    // band rows carry ONLY (id, band, band-hash): nothing wide rides the
    // bands-way exploded shuffle; survivors re-join the shingles by id.
    val banded = repBands
      .select(col("id"), posexplode(col("bands")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")

    val a = banded.alias("a")
    val b = banded.alias("b")
    val cand = a
      .join(b, col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")

    val repPairs = verifyJaccard(cand, base, threshold)
      .select(col("id_a").as("ra"), col("id_b").as("rb"), col("jaccard"))
    canonPairs(
      expandMemberPairs(repPairs, index.groups, "jaccard")
        .unionByName(intraMemberPairs(index.groups, lit(1.0), "jaccard")),
      "jaccard")
  }

  /**
   * Persistable MinHash near-dup index — the between-ingests artifact that
   * makes NEAR-dup admission control incremental, the LSH sibling of the
   * exact-fingerprint set behind [[incrementalIngest]] and of
   * [[graft.ext.Similarity.IvfIndex]]'s build-once/search-many discipline.
   * `bands` holds the corpus' exploded LSH band hashes (id, band, bh) —
   * the join side of every future ingest; `base` holds (id, shh, sz)
   * hashed shingle sets for exact-Jaccard verification. Build once over
   * the corpus, save, then each ingest batch computes ONLY its own
   * signatures and equi-joins the loaded band table: the corpus text is
   * never re-read, never re-hashed.
   */
  final case class MinhashIndex(bands: DataFrame, base: DataFrame) {
    /** Persist as two parquet tables under `dir`. Rehydrate with
      * [[loadMinhashIndex]]; the ingest-side [[MinHashConfig]] must match
      * the build-side one (band hashes are seed/shape-dependent). */
    def save(dir: String): Unit = {
      bands.write.mode("overwrite").parquet(s"$dir/bands.parquet")
      base.write.mode("overwrite").parquet(s"$dir/base.parquet")
    }
  }

  /** Exploded per-doc band table + verification base for [[MinhashIndex]].
    * No representative collapse: an index must answer for EVERY corpus id,
    * exact duplicates included. */
  private def bandTable(
      df: DataFrame, idCol: String, textCol: String, cfg: MinHashConfig): (DataFrame, DataFrame) = {
    require(cfg.numHashes % cfg.bands == 0, "numHashes must divide evenly into bands")
    val base = hashedShingleBase(df, idCol, textCol, cfg.shingleSize, ShingleSeed)
    val bands = base.select(col("id"),
        TextExpressionFunctions.minhash_band_keys(col("shh"), cfg.numHashes, cfg.bands, cfg.seed)
          .as("bands"))
      .select(col("id"), posexplode(col("bands")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
    (bands, base)
  }

  def buildMinhashIndex(
      df: DataFrame, idCol: String, textCol: String,
      cfg: MinHashConfig = MinHashConfig()): MinhashIndex = {
    val (bands, base) = bandTable(df, idCol, textCol, cfg)
    MinhashIndex(bands, base)
  }

  /** Rehydrate a [[MinhashIndex]] written by [[MinhashIndex.save]]. */
  def loadMinhashIndex(spark: org.apache.spark.sql.SparkSession, dir: String): MinhashIndex =
    MinhashIndex(
      bands = graft.io.ParquetIO.read(spark, s"$dir/bands.parquet"),
      base = graft.io.ParquetIO.read(spark, s"$dir/base.parquet"))

  /**
   * Near-dup pairs between an ingest batch and an indexed corpus:
   * (batch_id, corpus_id, jaccard >= threshold). The batch signatures
   * band-join the index (an equi-join on (band, bh) — candidates only
   * where a band collides), then exact Jaccard verifies against the
   * index's persisted shingle sets. Anti-join the batch against the
   * result's batch_id side to ADMIT only genuinely novel documents.
   * Recall is the LSH band recall (same curve as [[minhashPairs]]);
   * verified pairs are exact.
   */
  def ingestNearDupPairs(
      batch: DataFrame, idCol: String, textCol: String,
      index: MinhashIndex, threshold: Double,
      cfg: MinHashConfig = MinHashConfig()): DataFrame = {
    val (bBands, bBase) = bandTable(batch, idCol, textCol, cfg)
    val cand = bBands.select(col("id").as("id_a"), col("band"), col("bh"))
      .join(index.bands.select(col("id").as("id_b"), col("band"), col("bh")),
        Seq("band", "bh"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(bBase.select(col("id").as("id_a"), col("shh").as("shh_a"), col("sz").as("sz_a")), "id_a")
      .join(index.base.select(col("id").as("id_b"), col("shh").as("shh_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("shared", TextExpressionFunctions.sorted_intersect_count(col("shh_a"), col("shh_b")))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("sz_a") + col("sz_b") - col("shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a").as("batch_id"), col("id_b").as("corpus_id"), col("jaccard"))
  }

  /** (id, shh sorted-hashed shingle set, sz) base table for set-similarity
    * operators; whole-doc shingle for docs shorter than n words. */
  private def hashedShingleBase(
      df: DataFrame, idCol: String, textCol: String, n: Int, seed: Long): DataFrame =
    spread(df)
      .select(col(idCol).as("id"),
        TextExpressionFunctions.shingle_hashes(tokens(col(textCol)), n, seed).as("shh"))
      .filter(size(col("shh")) > 0)
      .withColumn("sz", size(col("shh")))

  /** Expand representative pairs (ra, rb, payload) to all member pairs —
    * members share their representative's set/signature/vector, so the
    * verified payload (jaccard/hamming/cosine) carries over unchanged. */
  private def expandMemberPairs(
      repPairs: DataFrame, groups: DataFrame, payload: String): DataFrame =
    repPairs
      .join(groups.select(col("rid").as("ra"), col("ids").as("ids_a")), "ra")
      .join(groups.select(col("rid").as("rb"), col("ids").as("ids_b")), "rb")
      .select(explode(col("ids_a")).as("ia"), col("ids_b"), col(payload))
      .select(col("ia"), explode(col("ids_b")).as("ib"), col(payload))

  /** All pairs WITHIN each duplicate group, with a constant payload (the
    * similarity of two identical members). */
  private def intraMemberPairs(groups: DataFrame, payload: Column, name: String): DataFrame =
    groups.filter(size(col("ids")) > 1)
      .select(col("ids"), posexplode(col("ids")))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "ia")
      .select(col("ia"), explode(expr("slice(ids, i + 2, size(ids) - i - 1)")).as("ib"),
        payload.as(name))

  /** Canonicalize (ia, ib, payload) to id_a < id_b. */
  private def canonPairs(pairs: DataFrame, payload: String): DataFrame =
    pairs.select(least(col("ia"), col("ib")).as("id_a"),
      greatest(col("ia"), col("ib")).as("id_b"), col(payload))

  /** Exact-jaccard verification of candidate id pairs against the hashed
    * shingle table: two id-equi-joins (candidates are few by construction),
    * then a compiled merge-scan intersection — no string arrays move. */
  private def verifyJaccard(cand: DataFrame, base: DataFrame, threshold: Double): DataFrame =
    cand
      .join(base.select(col("id").as("id_a"), col("shh").as("shh_a"), col("sz").as("sz_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("shh").as("shh_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("shared", TextExpressionFunctions.sorted_intersect_count(col("shh_a"), col("shh_b")))
      .withColumn("jaccard",
        col("shared").cast("double") / (col("sz_a") + col("sz_b") - col("shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /**
   * SimHash near-duplicate pairs with hamming distance <= maxHamming.
   * Candidate generation by the pigeonhole principle: 64 bits split into
   * `chunks` equal pieces; any pair within hamming h < chunks shares at
   * least one identical chunk, so a bucket join on (chunk index, chunk
   * value) has full recall for maxHamming <= chunks - 1.
   */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      chunks: Int = 4,
      seed: Long = 0L): DataFrame =
    hammingPairs(
      spread(df).select(col(idCol),
        TextExpressionFunctions.simhash64(tokens(col(textCol)), seed).as("__sh64")),
      idCol, "__sh64", maxHamming, chunks)

  /**
   * Entity resolution by blocked Jaro–Winkler similarity: every within-
   * block pair with `jw >= threshold` becomes an edge, and connected
   * components assign each record its min-id entity cluster — the
   * name/address/title record-linkage pipeline (blocking → pairwise
   * scoring → transitive closure) as one operator. The candidate space is
   * EXACTLY the within-block pairs — the caller's `blockCol` IS the
   * recall contract (standard in record linkage; pairs split across
   * blocks are invisible by design, which is what makes the join
   * tractable: a block of size s costs s², the corpus never self-joins).
   *
   * Scale shape: one equi-join on the block key with the codegen JW
   * verify fused into the probe (pairs that fail the threshold never
   * leave the join task), then [[duplicateClusters]]' edge-touched
   * min-label propagation. Skewed blocks (one giant last name) are the
   * known hazard — pick a compound block key, exactly as a PassJoin user
   * would.
   */
  def jaroWinklerClusters(
      df: DataFrame,
      idCol: String,
      nameCol: String,
      blockCol: Column,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    import org.apache.spark.sql.graft.JaroFunctions.jaro_winkler_similarity
    val keyed = df.select(col(idCol).as("__er_id"), col(nameCol).as("__er_nm"),
      blockCol.as("__er_blk"))
    val pairs = keyed.select(col("__er_blk"), col("__er_id").as("id_a"), col("__er_nm").as("na"))
      .join(keyed.select(col("__er_blk"), col("__er_id").as("id_b"), col("__er_nm").as("nb")),
        "__er_blk")
      .filter(col("id_a") < col("id_b"))
      .filter(jaro_winkler_similarity(col("na"), col("nb")) >= threshold)
      .select(col("id_a"), col("id_b"))
    duplicateClusters(df.select(col(idCol)), idCol, pairs)
  }

  /**
   * Diversity-capped dedup: keep at most `k` representatives per
   * duplicate cluster (the smallest ids win) — the policy between "drop
   * all duplicates" (k = 1, plain dedup) and "keep everything": near-dup
   * *variants* often carry signal worth a few copies (translations,
   * quote contexts), but a million-member boilerplate cluster must not
   * keep a million. The per-cluster selection is ONE mergeable
   * [[graft.functions.bottom_k_by_rank]] aggregate — O(k) state per
   * cluster, map-side combinable, so a mega-cluster never funnels its
   * members through one task the way `collect_list` or a window would.
   *
   * @param clusters (idCol, clusterCol) — [[duplicateClusters]]' output
   */
  def capClusters(
      clusters: DataFrame, idCol: String, clusterCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    clusters.groupBy(col(clusterCol))
      .agg(graft.functions.bottom_k_by_rank(col(idCol), struct(col(idCol)), k)
        .as("__keep"))
      .select(col(clusterCol), explode(col("__keep")).as("__r"))
      .select(col("__r")(idCol).as(idCol), col(clusterCol))
  }

  /**
   * EXACT hamming-distance pairs (<= maxHamming) over ANY precomputed
   * 64-bit signature column (simhash, image dHash, audio fingerprint, …).
   * Same pigeonhole candidate generation as [[simhashPairs]]: any pair
   * within hamming h < chunks shares at least one identical chunk, so the
   * bucket join has full recall; exact `bit_count(xor)` verification runs
   * BEFORE the pair-dedup shuffle so only passing pairs move.
   */
  def hammingPairs(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3,
      chunks: Int = 4): DataFrame = {
    require(64 % chunks == 0, "chunks must divide 64")
    require(maxHamming < chunks, "pigeonhole recall needs maxHamming < chunks")
    val bits = 64 / chunks
    val mask = if (bits == 64) -1L else (1L << bits) - 1

    // collapse identical signatures first: duplicate-heavy corpora put m
    // copies of one sh64 into every chunk bucket at m^2 join cost, while
    // the collapsed problem is buckets over DISTINCT signatures plus a
    // pair expansion bounded by the true output (same treatment as
    // embeddingNearDupPairs; hamming within a group is 0, so expansion
    // preserves the predicate trivially)
    val base = df.select(col(idCol).as("id"), col(hashCol).as("sh64"))
    val groups = base.groupBy(col("sh64"))
      .agg(min(col("id")).as("rid"), collect_list(col("id")).as("ids"))
      .localCheckpoint()

    val chunkCols = (0 until chunks).map(c =>
      shiftrightunsigned(col("sh64"), c * bits).bitwiseAND(lit(mask)))
    val chunked = groups.select(col("rid"), col("sh64"), posexplode(array(chunkCols: _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "cv")

    val a = chunked.alias("a")
    val b = chunked.alias("b")
    // hamming filter BEFORE the pair-dedup shuffle: only passing pairs move
    val repPairs = a
      .join(b, col("a.chunk") === col("b.chunk") && col("a.cv") === col("b.cv") &&
        col("a.rid") < col("b.rid"))
      .select(col("a.rid").as("ra"), col("b.rid").as("rb"),
        bit_count(col("a.sh64").bitwiseXOR(col("b.sh64"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("ra", "rb")

    // expand representative pairs to member pairs; then pairs WITHIN a
    // signature group (hamming 0, always <= maxHamming)
    canonPairs(
      expandMemberPairs(repPairs, groups, "hamming")
        .unionByName(intraMemberPairs(groups, lit(0), "hamming")),
      "hamming")
  }

  /**
   * Hamming ingest gate — [[incrementalIngest]]'s sibling for 64-bit
   * perceptual signatures: admit only batch rows whose signature is NOT
   * within `maxHamming` of ANY corpus signature. The corpus side reduces
   * to DISTINCT signatures (8-byte keys — at any corpus size this is the
   * small persistable artifact, like the fingerprint set), candidates come
   * from the same pigeonhole chunk join as [[hammingPairs]] (full recall
   * for maxHamming < chunks — no false admissions), and the exact
   * `bit_count` verify runs before the match-id distinct, so only matched
   * ids move. Admitted = batch LEFT ANTI matched.
   */
  def hammingIngestFilter(
      batch: DataFrame, corpus: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3, chunks: Int = 4): DataFrame = {
    require(64 % chunks == 0, "chunks must divide 64")
    require(maxHamming < chunks, "pigeonhole recall needs maxHamming < chunks")
    val bits = 64 / chunks
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    def chunkCols(h: Column) = (0 until chunks).map(c =>
      shiftrightunsigned(h, c * bits).bitwiseAND(lit(mask)))

    val cch = corpus.select(col(hashCol).as("__ch")).distinct()
      .select(col("__ch"), posexplode(array(chunkCols(col("__ch")): _*)))
      .withColumnRenamed("pos", "__chunk").withColumnRenamed("col", "__cv")
    val bch = batch.select(col(idCol).as("__bid"), col(hashCol).as("__bh"))
      .select(col("__bid"), col("__bh"), posexplode(array(chunkCols(col("__bh")): _*)))
      .withColumnRenamed("pos", "__chunk").withColumnRenamed("col", "__cv")
    val matched = bch.join(cch, Seq("__chunk", "__cv"))
      .filter(bit_count(col("__bh").bitwiseXOR(col("__ch"))) <= maxHamming)
      .select(col("__bid").as(idCol)).distinct()
    batch.join(matched, Seq(idCol), "left_anti")
  }

  /**
   * EXACT n-gram Jaccard pairs (no LSH, no recall loss, no cross join),
   * using the prefix-filtering principle of set-similarity joins (PPJoin,
   * Xiao et al., WWW'08):
   *
   *  - a pair with jaccard >= t must share at least one shingle among the
   *    first `|d| - ceil(t*|d|) + 1` shingles of each doc when every doc
   *    orders its shingles by ascending GLOBAL document frequency — so the
   *    inverted index is built over those (rare-first) prefixes only, which
   *    shrinks posting lists by ~t and kills the hot-shingle quadratic
   *    blowup that a full inverted index suffers at scale;
   *  - a length filter (t*|B| <= |A|, symmetric) prunes candidates whose
   *    sizes alone cap jaccard below t;
   *  - survivors get exact verification against the full shingle sets.
   */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double): DataFrame =
    ngramJaccardPairs(sharedShingleIndex(df, idCol, textCol, n), threshold)

  /** [[ngramJaccardPairs]] over a prebuilt (shareable) [[ShingleIndex]]. */
  def ngramJaccardPairs(index: ShingleIndex, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold must be in (0,1], got $threshold")
    // identical shingle sets were collapsed by the index (m duplicates would
    // repeat every posting m times and every candidate m² times); jaccard
    // within a group is exactly 1.0 >= any valid threshold. The rep filter
    // is an id semi-join over the persisted base; its array payload feeds
    // straight into the posting explode that PPJoin shuffles anyway.
    val base = index.base
    val repBase = base.join(index.groups.select(col("rid").as("id")), Seq("id"), "left_semi")

    // global df per shingle -> rare-first canonical order (df over DISTINCT
    // sets: PPJoin's prefix bound is valid under ANY canonical total order,
    // rare-first is the pruning heuristic)
    val postings = repBase.select(col("id"), col("sz"), explode(col("shh")).as("g"))
    val gdf = postings.groupBy(col("g")).agg(count(lit(1)).as("gdf"))

    // prefix of each doc: the (sz - ceil(t*sz) + 1) globally-rarest shingles
    // (rank via a codegen'd window sort; collect_list + array_sort would run
    // an interpreted struct sort per doc)
    val rareFirst = Window.partitionBy(col("id")).orderBy(col("gdf").asc, col("g").asc)
    val prefix = postings
      .join(gdf, "g")
      .withColumn("__rn", row_number().over(rareFirst))
      .filter(col("__rn") <= (col("sz") - ceil(col("sz") * threshold) + 1).cast("int"))
      .select(col("id"), col("sz"), col("g"))

    val a = prefix.alias("a")
    val b = prefix.alias("b")
    val cand = a
      .join(b, col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
        // length filter: jaccard <= min/max of sizes
        col("a.sz") >= col("b.sz") * threshold && col("b.sz") >= col("a.sz") * threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")

    val repPairs = verifyJaccard(cand, base, threshold)
      .select(col("id_a").as("ra"), col("id_b").as("rb"), col("jaccard"))
    canonPairs(
      expandMemberPairs(repPairs, index.groups, "jaccard")
        .unionByName(intraMemberPairs(index.groups, lit(1.0), "jaccard")),
      "jaccard")
  }

  /**
   * Exact CONTAINMENT pairs — the asymmetric set-similarity join
   * (`|A ∩ B| / |A| >= threshold`, A the smaller set): catches
   * quote-inclusion and subset duplicates that Jaccard structurally
   * misses (a paragraph fully contained in a 100x-larger page has
   * containment 1.0 but Jaccard ~0.01).
   *
   * Candidate generation adapts the PPJoin prefix filter to the
   * asymmetric case: the CONTAINED side contributes its
   * `sz − ceil(t·sz) + 1` globally-rarest shingles (pigeonhole: at most
   * `sz − ceil(t·sz)` of A's grams can miss B, so any larger subset has a
   * witness in B — valid for ANY prefix choice), probed against the
   * container side's FULL posting list (the container has no usable
   * prefix bound: it may be arbitrarily larger than A). Rare-first prefix
   * order keeps the probe's gram keys low-frequency, so the equi-join
   * fan-out stays bounded; the size filter `|B| >= ceil(t·|A|)` prunes
   * the rest. Verification is the compiled sorted-merge intersection —
   * shingle arrays never ride the candidate shuffle.
   *
   * Output: (id_small, id_big, containment), contained side first; pairs
   * of equal size (containment is symmetric there) canonicalize to
   * id_small < id_big.
   */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double): DataFrame =
    containmentPairs(sharedShingleIndex(df, idCol, textCol, n), threshold)

  /** [[containmentPairs]] over a prebuilt (shareable) [[ShingleIndex]]. */
  def containmentPairs(index: ShingleIndex, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold must be in (0,1], got $threshold")
    val base = index.base
    val repBase = base.join(index.groups.select(col("rid").as("id")), Seq("id"), "left_semi")
    val postings = repBase.select(col("id"), col("sz"), explode(col("shh")).as("g"))
    val gdf = postings.groupBy(col("g")).agg(count(lit(1)).as("gdf"))
    val rareFirst = Window.partitionBy(col("id")).orderBy(col("gdf").asc, col("g").asc)
    val prefix = postings
      .join(gdf, "g")
      .withColumn("__rn", row_number().over(rareFirst))
      .filter(col("__rn") <= (col("sz") - ceil(col("sz") * threshold) + 1).cast("int"))
      .select(col("id"), col("sz"), col("g"))
    val a = prefix.alias("a")
    val b = postings.alias("b")
    val cand = a.join(b,
        col("a.g") === col("b.g") &&
          (col("a.sz") < col("b.sz") ||
            (col("a.sz") === col("b.sz") && col("a.id") < col("b.id"))) &&
          col("b.sz") >= ceil(col("a.sz") * threshold))
      .select(col("a.id").as("id_small"), col("b.id").as("id_big"))
      .dropDuplicates("id_small", "id_big")
    val verified = cand
      .join(base.select(col("id").as("id_small"), col("shh").as("sh_s"), col("sz").as("sz_s")), "id_small")
      .join(base.select(col("id").as("id_big"), col("shh").as("sh_b"), col("sz").as("sz_b")), "id_big")
      .withColumn("shared", TextExpressionFunctions.sorted_intersect_count(col("sh_s"), col("sh_b")))
      .withColumn("containment", col("shared").cast("double") / col("sz_s").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_small").as("rs"), col("id_big").as("rb2"),
        col("containment"), (col("sz_s") === col("sz_b")).as("__eq"))
    // expand duplicate groups: identical sets share a size, so roles carry
    // over; equal-size member pairs re-canonicalize by id
    val cross = verified
      .join(index.groups.select(col("rid").as("rs"), col("ids").as("ids_s")), "rs")
      .join(index.groups.select(col("rid").as("rb2"), col("ids").as("ids_b")), "rb2")
      .select(explode(col("ids_s")).as("ism"), col("ids_b"), col("containment"), col("__eq"))
      .select(col("ism"), explode(col("ids_b")).as("ibg"), col("containment"), col("__eq"))
      .select(
        when(col("__eq"), least(col("ism"), col("ibg"))).otherwise(col("ism")).as("id_small"),
        when(col("__eq"), greatest(col("ism"), col("ibg"))).otherwise(col("ibg")).as("id_big"),
        col("containment"))
    // `ids` is a collect_list — partition-order, NOT sorted — so the
    // member pairs must canonicalize by id explicitly (identical sets tie
    // on size ⇒ id order decides small/big). Found by the sf0.1 oracle
    // replay: at 32 shuffle partitions the list order finally diverged
    // from ascending and five pairs came out orientation-swapped.
    val intra = index.groups.filter(size(col("ids")) > 1)
      .select(col("ids"), posexplode(col("ids")))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "ia")
      .select(col("ia"),
        explode(expr("slice(ids, i + 2, size(ids) - i - 1)")).as("ib"))
      .select(least(col("ia"), col("ib")).as("id_small"),
        greatest(col("ia"), col("ib")).as("id_big"),
        lit(1.0).as("containment"))
    cross.unionByName(intra)
  }

  /**
   * Embedding near-duplicate pairs: random-hyperplane LSH (Charikar 2002)
   * buckets, then exact cosine verification with the codegen'd
   * [[graft.functions.vec_cosine]]. Signature bits are grouped into bands;
   * a pair is a candidate if ANY band matches, trading a little join fan-out
   * for recall at high thresholds.
   */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      numPlanes: Int = 16,
      bands: Int = 2,
      seed: Long = 42L): DataFrame = {
    // collapse exact-duplicate vectors first: m copies of one vector would
    // multiply every LSH bucket join by m^2 (duplicate-heavy corpora are the
    // norm in training data), while the collapsed problem is bucket-join on
    // DISTINCT vectors + a pair expansion bounded by the actual output
    val members = spread(df).select(col(idCol).as("id"), col(vecCol).as("v"))
    // localCheckpoint: `groups` feeds three consumers (band explode + both
    // pair expansions); without it each consumer re-runs the scan+aggregate
    val groups = members.groupBy(col("v"))
      .agg(min(col("id")).as("rid"), collect_list(col("id")).as("ids"))
      .localCheckpoint()

    // LSH band join over group representatives. The vector RIDES THROUGH the
    // band explode (bands × dim floats per distinct vector — linear in the
    // collapsed corpus) so cosine is computed inline in the join projection
    // and filtered BEFORE any pair-level shuffle: the only pair-shaped
    // shuffle left is the dropDuplicates over survivors, which is bounded by
    // the true output. The alternative (ids-only bands, re-join vectors for
    // candidates) shuffles the full candidate-pair table three times — at a
    // moderate threshold LSH passes many random pairs, so the candidate
    // table, not the banded table, is the scale hazard.
    val sigCol = LshPlanes.bandKeys(col("v"), dim, numPlanes, bands, seed)
    val banded = groups.select(col("rid"), col("v"), posexplode(sigCol))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bk")
    val a = banded.alias("a")
    val b = banded.alias("b")
    val repPairs = a
      .join(b, col("a.band") === col("b.band") && col("a.bk") === col("b.bk") &&
        col("a.rid") < col("b.rid"))
      .select(col("a.rid").as("ra"), col("b.rid").as("rb"),
        vec_cosine(col("a.v"), col("b.v")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .dropDuplicates("ra", "rb")

    // expand a qualifying representative pair to all member pairs (members
    // share their representative's vector, so the cosine carries over)
    val cross = repPairs
      .join(groups.select(col("rid").as("ra"), col("ids").as("ids_a")), "ra")
      .join(groups.select(col("rid").as("rb"), col("ids").as("ids_b")), "rb")
      .select(explode(col("ids_a")).as("ia"), col("ids_b"), col("cosine"))
      .select(col("ia"), explode(col("ids_b")).as("ib"), col("cosine"))

    // pairs WITHIN a duplicate group: identical vectors, cosine(v, v)
    val intra = groups.filter(size(col("ids")) > 1)
      .select(vec_cosine(col("v"), col("v")).as("cosine"), col("ids"), posexplode(col("ids")))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "ia")
      .filter(col("cosine") >= threshold)
      .select(col("ia"), explode(expr("slice(ids, i + 2, size(ids) - i - 1)")).as("ib"), col("cosine"))

    cross.unionByName(intra)
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col("cosine"))
  }

  /**
   * Duplicate clusters: connected components over a near-dup pair list —
   * the step that turns pairwise similarity into "keep one per group".
   *
   * Two-phase hybrid, cheap where components are shallow and
   * diameter-proof where they are not:
   *
   * PHASE 1 — up to [[HookRounds]] rounds of min-label propagation (one
   * edge equi-join + one min aggregation per round, the cheapest possible
   * round). Near-dup clusters are overwhelmingly shallow (exact-dup
   * cliques, 2–3-hop chains), so the common case converges HERE at the
   * same cost as a plain min-label implementation.
   *
   * PHASE 2 — if phase 1 did not converge, the graph CONTRACTS by the
   * current labels (same-label vertices collapse; quotient components
   * equal original components because labels only ever propagate within a
   * component) and the remaining budget runs alternating
   * large-star/small-star (Kiveris et al., "Connected Components in
   * MapReduce and Beyond", SoCC'14, Algorithm 2) on the contracted edge
   * set:
   *
   *  - LARGE-STAR, at each edge's SMALLER endpoint `u`: every strictly
   *    larger neighbor re-attaches to `m(u) = min(Γ(u) ∪ {u})`.
   *  - SMALL-STAR, at each edge's LARGER endpoint `u`: `u` and its
   *    smaller neighbors re-attach to the least of them.
   *
   * Both steps preserve connectivity and never lose a vertex (the
   * component minimum re-emits all of its edges in large-star; a larger
   * endpoint always re-emits itself via (m, u) in small-star), and the
   * alternation contracts components in O(log² n) rounds worst-case —
   * O(log n) in practice — INDEPENDENT of component diameter. Plain
   * min-label propagation alone is O(diameter) rounds: a web-scale
   * near-dup graph with a boilerplate mega-chain turns 10 rounds into
   * 500, each a full join over the edge set. The planted-path spec pins
   * the difference (a 400-vertex path converges in ≤ 15 total rounds
   * where min-label needs 399) and the geo_clusters_supercritical scale
   * probe pins recovery on a percolated giant component.
   *
   * Every round materializes via `localCheckpoint` so round N doesn't
   * replan rounds 1..N-1 (the standard large-graph treatment; GraphX does
   * the same under the hood); per-round checkpoint blocks are reclaimed
   * by the ContextCleaner once the previous round's DataFrame goes out of
   * reference. Phase-2 convergence = the canonical (lo, hi) edge set
   * reaches a fixed point (one count + one except over the star-sized
   * relation); the loud non-convergence throw guards the cap — never
   * silent splits.
   *
   * @param vertices one row per entity (covers singletons)
   * @param pairs    undirected near-dup pairs (id_a, id_b)
   * @return (id, cluster_id) where cluster_id = min id of the component
   */
  def duplicateClusters(
      vertices: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
      maxIterations: Int = 25): DataFrame = {
    // iterate ONLY over edge-touched vertices: a vertex with no near-dup
    // pair can never move, and in a deduplication workload the paired
    // subgraph is a small fraction of the corpus. Untouched vertices
    // rejoin as their own singleton cluster at the end.
    // symmetrize by EXPLODING each pair to its two directions instead of
    // unioning the pair subtree with its own reversal — the union form
    // executed the entire (expensive) pairs pipeline TWICE inside this one
    // materialization (r12, guide §2.4; JobProfile: 4.4s of q235's 6.2s)
    val sym = pairs.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .filter(col("src") =!= col("dst"))
      .localCheckpoint()
    var labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label")).localCheckpoint()
    var converged = sym.isEmpty
    var iter = 0

    // PHASE 1: min-label hooks — the cheap rounds that finish shallow
    // similarity graphs outright. The per-round CHANGE COUNT doubles as
    // the escalation signal: on a shallow graph it collapses geometrically
    // (each round halves-or-better the moving frontier), while on a long
    // chain/giant component it plateaus (the frontier walks the diameter).
    // A plateau after MinHookRounds escalates to the star phase instead of
    // burning the full hook budget on O(diameter) behavior.
    val hookRounds = math.min(MaxHookRounds, maxIterations)
    var prevChanged = Long.MaxValue
    var plateau = false
    while (!converged && !plateau && iter < hookRounds) {
      val neighborMin = sym.join(labels, col("src") === col("id"))
        .groupBy(col("dst")).agg(min(col("label")).as("nl"))
      val next = labels.join(neighborMin, col("id") === col("dst"), "left")
        .select(col("id"), col("label").as("prev"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
        .localCheckpoint()
      val changed = next.filter(col("label") =!= col("prev")).count()
      converged = changed == 0L
      // ratio > 0.9: a walking frontier (chain/giant component); geometric
      // tails of shallow graphs sit well below it
      plateau = iter + 1 >= MinHookRounds && changed * 10 > prevChanged * 9
      prevChanged = changed
      labels = next.select(col("id"), col("label"))
      iter += 1
    }

    if (!converged) {
      // PHASE 2: contract by current labels (one-time two joins over the
      // edge set), then large-star/small-star on the contracted graph.
      // Label values include each component's min (l(m) = m always), so
      // the star phase's component minima ARE the original minima.
      var edges = sym
        .join(labels.select(col("id").as("src"), col("label").as("__ls")), "src")
        .join(labels.select(col("id").as("dst"), col("label").as("__ld")), "dst")
        .select(least(col("__ls"), col("__ld")).as("lo"),
          greatest(col("__ls"), col("__ld")).as("hi"))
        .filter(col("lo") =!= col("hi"))
        .distinct()
        .localCheckpoint()
      converged = edges.isEmpty
      while (!converged && iter < maxIterations) {
        // LARGE-STAR: larger neighbors of u re-attach to min(Γ(u) ∪ {u}).
        // m(u) ≤ u < v, so the emitted edge is already (lo=m, hi=v) and
        // never a self-loop.
        val s = edges.select(col("lo").as("u"), col("hi").as("v"))
          .unionByName(edges.select(col("hi").as("u"), col("lo").as("v")))
        val mins = s.groupBy(col("u")).agg(min(col("v")).as("__mn"))
          .select(col("u"), least(col("u"), col("__mn")).as("__m"))
        val large = s.filter(col("v") > col("u"))
          .join(mins, "u")
          .select(col("__m").as("lo"), col("v").as("hi"))
          .distinct()
          .localCheckpoint()
        // SMALL-STAR: u and its smaller neighbors re-attach to the least
        // of them. m(u) = min of u's smaller neighbors, so m ≤ x; only
        // x = m itself would self-loop and is filtered.
        val sMins = large.groupBy(col("hi")).agg(min(col("lo")).as("__m"))
        val small = large.join(sMins, "hi")
          .select(col("lo").as("__x"), col("__m"))
          .unionByName(sMins.select(col("hi").as("__x"), col("__m")))
          .filter(col("__x") =!= col("__m"))
          .select(col("__m").as("lo"), col("__x").as("hi"))
          .distinct()
          .localCheckpoint()
        converged = small.count() == edges.count() && small.except(edges).isEmpty
        edges = small
        iter += 1
      }
      if (!converged) {
        throw new IllegalStateException(
          s"duplicateClusters did not converge within $maxIterations rounds " +
            s"($hookRounds min-label hooks + large-star/small-star) — " +
            "structurally implausible for a similarity graph (star rounds " +
            "grow with log(n), not diameter); raise maxIterations — a silent " +
            "non-converged result would split components into multiple clusters")
      }
      // fixed point = stars centered at each contracted component min:
      // every non-center vertex appears exactly once as hi, every center
      // as lo. Compose back over the phase-1 labels.
      val starLabels = edges.select(col("hi").as("label"), col("lo").as("__cl"))
        .unionByName(
          edges.select(col("lo").as("label"), col("lo").as("__cl")).distinct())
      labels = labels.join(starLabels, Seq("label"), "left")
        .select(col("id"), coalesce(col("__cl"), col("label")).as("label"))
    }

    // singletons (never paired) are their own cluster; anti-join keeps the
    // corpus-sized side to ONE pass at the very end
    val singletons = vertices.select(col(idCol).as("id"))
      .join(labels.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster_id"))
    labels.select(col("id"), col("label").as("cluster_id")).unionByName(singletons)
  }

  /** Phase-1 budget for [[duplicateClusters]]: min-label rounds run until
    * convergence, a change-count plateau (checked from round
    * [[MinHookRounds]] — a halving-or-better frontier is a shallow graph
    * worth finishing in place), or [[MaxHookRounds]], whichever first.
    * Shallow graphs — every real dedup workload's common case — converge
    * inside the budget and never pay the star phase's heavier rounds;
    * chains/giant components plateau within 3–4 rounds and escalate to the
    * diameter-proof phase having already contracted the graph. */
  private val MinHookRounds = 3
  private val MaxHookRounds = 10

  /**
   * Duplicated-span detection — the exact-substring dedup signal (Lee et
   * al. 2021, arXiv:2107.06499) at word granularity: for every document,
   * how many of its distinct `n`-token spans also appear in at least one
   * OTHER document, plus the duplicated fraction. High `dup_span_frac`
   * flags boilerplate, mirrored passages, and memorization-prone text that
   * document-level dedup misses (two mostly-different docs can still share
   * a long verbatim span).
   *
   * Scale shape: spans ride as 8-byte xxhash64 longs from the codegen
   * kernel (within-doc distinct — same 2^-64-collision caveat as the
   * exact-jaccard operator); the cross-doc frequency is one map-side
   * combined hash agg keyed by span hash, re-joined by hash; text never
   * rides a shuffle and the corpus never self-joins. A doc shorter than
   * `n` words contributes its whole text as a single span.
   */
  def duplicatedSpans(
      df: DataFrame, idCol: String, textCol: String, n: Int = 16): DataFrame = {
    require(n > 0, s"span width must be positive, got $n")
    // the slim (id, hash) span relation feeds both the frequency agg and
    // the re-join — localCheckpoint materializes it so the text is
    // tokenized and hashed ONCE, and the blocks free on GC (no
    // CacheManager entry accumulating across invocations)
    val spans = df.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), explode(
        TextExpressionFunctions.shingle_hashes(tokens(col(textCol)), n, ShingleSeed))
        .as("__h"))
      .localCheckpoint()
    // spans are distinct within a doc, so count(*) per hash == number of
    // docs containing the span
    val freq = spans.groupBy(col("__h")).agg(count(lit(1)).as("__nd"))
    spans.join(freq, Seq("__h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__nd") >= 2, 1L).otherwise(0L)).as("dup_spans"))
      .select(col(idCol), col("n_spans"), col("dup_spans"),
        (col("dup_spans").cast("double") / col("n_spans").cast("double"))
          .as("dup_span_frac"))
  }
}

/** Deterministic random-hyperplane generation + sign-bucket keys, shared by
  * dedup and ANN search. */
object LshPlanes {
  import graft.functions.vec_dot

  /** `numPlanes` hyperplanes of dimension `dim`, deterministic in `seed`
    * (driver-side seeded PRNG; broadcast to executors as literals). */
  def planes(dim: Int, numPlanes: Int, seed: Long): Array[Array[Float]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(numPlanes)(Array.fill(dim)(rng.nextGaussian().toFloat))
  }

  /** Sign bit per hyperplane, packed into `bands` long keys. Each key is
    * salted with its band index so keys from different bands never collide
    * in a bucket join. */
  def bandKeys(vec: Column, dim: Int, numPlanes: Int, bands: Int, seed: Long): Column = {
    require(numPlanes % bands == 0, "numPlanes must divide evenly into bands")
    val perBand = numPlanes / bands
    val ps = planes(dim, numPlanes, seed)
    val bandCols = (0 until bands).map { bandIdx =>
      val key = (0 until perBand).map { j =>
        val plane = ps(bandIdx * perBand + j)
        when(vec_dot(vec, typedlit(plane.toSeq)) > 0d, lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
      // salt with band index (bits 56+) to disambiguate bands
      key + lit(bandIdx.toLong << 56)
    }
    array(bandCols: _*)
  }
}
