package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{CorpusFilters, CorpusRewrite, Dedup, Multimodal, QualityModel, Similarity, TextStats, VectorOps}
import graft.operators.{FuzzyJoin, Ingest, Profiler, RelCheck, Sampler, SemiJoinReducer}
import graft.streaming.StreamGate

/**
 * Driver contract: every implemented operator from SURVEY.md §2 (reference
 * parity: sample / semi-join / sink) plus the training-data-pipeline
 * extensions (dedup, similarity, text analysis, windowed events), each as a
 * named query. Where the semantics are ANSI-SQL-expressible the matching
 * DuckDB oracle lives in [[oracleSql]]; the rest get rows-only checks and
 * ScalaTest property coverage.
 *
 * Floating-point discipline for oracle-checked queries: aggregates go
 * through exact DECIMAL arithmetic and only the FINAL value is cast to
 * double, so Spark and DuckDB produce bit-identical results regardless of
 * summation order; ratio columns use the identical double expression tree on
 * both engines.
 */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = graft.io.ParquetIO.read(s, s"$dir/$name.parquet")
    // events.ts → long epoch nanos regardless of the fixture's parquet
    // timestamp flavor (see ParquetIO.tsToNanos); all event-time queries
    // do integer nanos arithmetic on it
    if (name == "events") graft.io.ParquetIO.tsToNanos(df) else df
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. The full
    * curation pipeline composes the widest slice of the engine in one plan:
    * language/quality/repetition/PII/decontamination filters, exact dedup,
    * per-source token budget, and mixture accounting (oracle-checked end to
    * end as q98). */
  def entry(spark: SparkSession): DataFrame =
    queries("q98_curation_pipeline")(spark, "/root/testdata/sf0.001")

  // ---- shared query fragments -------------------------------------------

  private def semi(dim: String, dimCol: String, fact: String, factCol: String)(
      s: SparkSession, dir: String): DataFrame =
    SemiJoinReducer.reduce(t(s, dir, dim), dimCol, t(s, dir, fact), factCol)

  /** exact-decimal money column: the test data carries 2-decimal doubles */
  private def dec(c: String): Column = col(c).cast("decimal(15,2)")

  // Seq of pairs, not a Map literal: ListMap silently last-wins on a
  // duplicated key, which would drop a query (and its oracle check) with
  // no signal; CoverageSpec asserts distinctness against THIS seq.
  private[graft] lazy val queryPairs: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // ---- reference parity: left semi-join reduction (join.rs) ----------
    "q01_semijoin_orders" -> ((s, dir) => semi("orders", "o_orderkey", "lineitem", "l_orderkey")(s, dir)),
    "q02_semijoin_part" -> ((s, dir) => semi("part", "p_partkey", "lineitem", "l_partkey")(s, dir)),
    "q03_semijoin_supplier" -> ((s, dir) => semi("supplier", "s_suppkey", "lineitem", "l_suppkey")(s, dir)),
    "q04_semijoin_customer" -> ((s, dir) => semi("customer", "c_custkey", "orders", "o_custkey")(s, dir)),
    "q05_semijoin_nation" -> ((s, dir) => semi("nation", "n_nationkey", "customer", "c_nationkey")(s, dir)),
    "q06_semijoin_region" -> ((s, dir) => semi("region", "r_regionkey", "nation", "n_regionkey")(s, dir)),
    // legacy reference key semantics: stringified comparison (join.rs:66-70)
    "q07_semijoin_legacy_keys" -> ((s, dir) =>
      SemiJoinReducer.reduce(t(s, dir, "nation"), "n_nationkey",
        t(s, dir, "customer"), "c_nationkey", legacyStringKeys = true)),
    "q08_antijoin_orders" -> ((s, dir) =>
      SemiJoinReducer.antiReduce(t(s, dir, "orders"), "o_orderkey", t(s, dir, "lineitem"), "l_orderkey")),
    // one-pass column profile (row/null/distinct counts, min/max as
    // strings); double cast to DECIMAL and ts to DATE so string renderings
    // are engine-portable for the oracle
    "q09_profile_orders" -> ((s, dir) =>
      Profiler.profile(t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(15,2)").as("o_totalprice"),
        col("o_orderdate").cast("date").as("o_orderdate"),
        col("o_orderpriority")))),
    // equi-width histogram with explicit bounds: one hash aggregate,
    // IEEE-double bin arithmetic identical on both engines
    "q47_histogram_prices" -> ((s, dir) =>
      Profiler.histogram(t(s, dir, "lineitem"), "l_extendedprice",
        lo = 0.0, hi = 60000.0, nBins = 24)),

    // ---- reference parity: sampling (sample.rs; seeded => rows-only) ---
    "q10_sample_exact" -> ((s, dir) => Sampler.exact(t(s, dir, "lineitem"), 0.01, seed = 42L)),
    "q11_sample_positional" -> ((s, dir) =>
      Sampler.exactFromParquet(s, s"$dir/lineitem.parquet", 0.01, seed = 42L)),
    "q12_sample_bernoulli" -> ((s, dir) => Sampler.bernoulli(t(s, dir, "lineitem"), 0.01, seed = 42L)),
    // the README.md:15-26 workflow end-to-end: sample the fact, reduce
    // dims. The sampler here is the PORTABLE deterministic exact-n flavor
    // (n smallest md5(seed:primary-key) ranks — layout-independent, no
    // RNG), so DuckDB replays the ENTIRE pipeline including the sampled
    // row set and the chained semi-joins are hash-checked end-to-end; the
    // reference's RNG flavors stay covered by q10/q11/q12
    "q13_sample_pipeline" -> ((s, dir) => {
      val rk = md5(concat_ws(":", lit("42"), col("l_orderkey").cast("string"),
        col("l_linenumber").cast("string")).cast("binary"))
      val sampled = Sampler.exactNByHexRank(t(s, dir, "lineitem"), 0.05, rk)
      val orders = SemiJoinReducer.reduce(t(s, dir, "orders"), "o_orderkey", sampled, "l_orderkey")
      SemiJoinReducer.reduce(t(s, dir, "customer"), "c_custkey", orders, "o_custkey")
    }),

    // ---- set operations & approximate aggregates ------------------------
    "q17_union_all_counts" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").cast("int").as("nationkey"))
        .unionAll(t(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nationkey")))
        .groupBy(col("nationkey"))
        .agg(count(lit(1)).as("n"))),
    "q18_except_orders" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey")).distinct()
        .except(t(s, dir, "lineitem").select(col("l_orderkey").as("o_orderkey")).distinct())),
    // HLL sketch vs exact distinct: sketch VALUES differ across engines, so
    // the sketch is exported as its accuracy CONTRACT instead — a boolean
    // "within 5% of exact" column the oracle pins to TRUE (rsd=0.01 ≈ 11k
    // registers makes 5% a ~5-sigma bound; deterministic per input, so the
    // boolean is stable). The exact column is oracle-checked value-for-value.
    "q19_approx_distinct" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          approx_count_distinct(col("o_custkey"), rsd = 0.01).as("__approx"),
          countDistinct(col("o_custkey")).as("exact_customers"))
        .select(col("o_orderpriority"),
          (abs(col("__approx") - col("exact_customers")).cast("double")
            <= col("exact_customers").cast("double") * 0.05).as("approx_ok"),
          col("exact_customers"))),

    // the three grouped samplers below all run the PORTABLE deterministic
    // flavor (md5 rank — exactly replayable in DuckDB, so each is
    // hash-oracled); the RNG/xxhash flavors (stratifiedExact,
    // perGroupExactK, perGroupWeightedK) stay spec-covered in SamplerSpec
    // rank key note: (l_orderkey, l_linenumber) is NOT unique in this
    // synthetic lineitem — md5 ties there would let each engine keep a
    // different tie member. The extended key below is verified unique at
    // all three SFs, so the selection is fully determined
    "q14_sample_stratified" -> ((s, dir) =>
      Sampler.stratifiedExactByRank(t(s, dir, "lineitem"), "l_returnflag", 0.01,
        Sampler.hexRank("42", col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"), col("l_returnflag"),
          col("l_linestatus"), col("l_shipdate").cast("date")))),
    // custom TypedImperativeAggregate: k rows per group in one shuffle
    "q15_sample_per_group" -> ((s, dir) =>
      Sampler.perGroupExactKByRank(t(s, dir, "documents"), Seq("lang", "source"), k = 3,
        Sampler.hexRank("42", col("doc_id")))),
    // quality-weighted data selection: per language, 20 docs biased by
    // score — priority sampling (u/w), bit-replayable division
    "q16_sample_weighted" -> ((s, dir) =>
      Sampler.perGroupWeightedKByRank(
        TextStats.qualityScore(t(s, dir, "documents"), "text")
          .select(col("doc_id"), col("lang"), col("quality_score")),
        Seq("lang"), "quality_score", k = 20,
        Sampler.hexRank("42", col("doc_id")))),

    // ---- analytics over the star schema (Catalyst-native ops) ----------
    "q20_agg_pricing" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("count_order"),
          sum(dec("l_quantity")).cast("double").as("sum_qty"),
          sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
          sum(dec("l_extendedprice") * (lit(1).cast("decimal(15,2)") - dec("l_discount")))
            .cast("double").as("sum_disc_price"))),
    "q21_join_agg_revenue" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_items"),
          sum(dec("l_extendedprice") * (lit(1).cast("decimal(15,2)") - dec("l_discount")))
            .cast("double").as("revenue"))
    }),
    "q22_topk_orders" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .limit(10)),
    "q23_window_recent_orders" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("rn"))
    }),
    "q24_distinct_segments" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_mktsegment")).distinct()),
    "q25_setop_nations" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_nationkey").cast("int").as("nationkey")).distinct()
        .intersect(t(s, dir, "supplier").select(col("s_nationkey").cast("int").as("nationkey")).distinct())),

    "q26_percentiles" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          expr("percentile(o_totalprice, 0.5)").as("p50"),
          expr("percentile(o_totalprice, 0.95)").as("p95"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))),

    // grouping-set aggregates: subtotal rows carry NULL grouping columns on
    // both engines; coalesce to a sentinel so the harness row-sort is total
    "q28_rollup_pricing" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n_rows"),
          sum(dec("l_quantity")).cast("double").as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n_rows"), col("sum_qty"))),
    "q29_cube_orderstats" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(dec("o_totalprice")).cast("double").as("sum_price"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("orderstatus"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("orderpriority"),
          col("n_orders"), col("sum_price"))),

    // window frame specs: a ROWS moving sum and a RANGE (value-based,
    // 30-day) peer-inclusive count in one pass
    "q34_window_frames" -> ((s, dir) => {
      val wRows = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(-2, Window.currentRow)
      val days = datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
      val wRange = Window.partitionBy(col("o_custkey"))
        .orderBy(days)
        .rangeBetween(-30, Window.currentRow)
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        sum(dec("o_totalprice")).over(wRows).cast("double").as("moving_sum3"),
        count(lit(1)).over(wRange).cast("long").as("n_last_30d"))
    }),

    // equi + range predicate join (theta component evaluated post-probe)
    "q35_range_join" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      l.join(o, l("l_orderkey") === o("o_orderkey")
          && l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAY"))
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_late"),
          sum(dec("l_extendedprice")).cast("double").as("sum_late_price"))
    }),

    "q36_fullouter_orders" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      val o = t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .groupBy(coalesce(col("c_mktsegment"), lit("(none)")).as("segment"))
        .agg(
          countDistinct(col("c_custkey")).as("n_customers"),
          count(col("o_orderkey")).as("n_orders"))
    }),

    // correlated subqueries through the SQL surface: EXISTS filter + a
    // scalar subquery column (Catalyst rewrites both to joins)
    "q38_correlated_subq" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("customer")
      t(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql("""SELECT c_custkey, c_name,
              |  (SELECT max(o_totalprice) FROM orders o WHERE o.o_custkey = c.c_custkey) AS max_order_price
              |FROM customer c
              |WHERE EXISTS (SELECT 1 FROM orders o
              |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)""".stripMargin)
    }),

    // scalar date/string function surface, grouped
    "q39_date_string_funcs" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(
          year(col("o_orderdate")).cast("long").as("yr"),
          quarter(col("o_orderdate")).cast("long").as("qtr"),
          substring(col("o_orderpriority"), 1, 1).as("prio_class"))
        .agg(
          count(lit(1)).as("n"),
          min(col("o_orderdate")).as("first_date"),
          max(upper(col("o_orderstatus"))).as("max_status"))),

    // lag analytics: per-customer gap between consecutive orders, in
    // epoch-microsecond integers (engine-neutral)
    "q27_order_gaps" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      val us = unix_micros(col("o_orderdate").cast("timestamp"))
      t(s, dir, "orders")
        .withColumn("__prev", lag(us, 1).over(w))
        .select(col("o_custkey"), col("o_orderkey"),
          (us - col("__prev")).as("gap_us"))
    }),

    // ---- events: time-windowed aggregation ------------------------------
    // events.ts is parquet TIMESTAMP(NANOS), surfaced as long nanos via
    // spark.sql.legacy.parquet.nanosAsLong; buckets are epoch-second longs
    // computed with pure integer arithmetic so both engines agree exactly
    // (double division of nanosecond epochs is not exact: 1.7e18 > 2^53).
    "q30_events_hourly" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(
          (expr("ts div 3600000000000") * 3600).cast("long").as("bucket_s"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(dec("value")).cast("double").as("sum_value"))),

    // gap-based sessionization: Spark's session_window (dynamic-gap session
    // aggregation); oracle reproduces the same islands with lag+cumsum
    "q31_events_sessions" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
        .groupBy(session_window(col("event_time"), "10 minutes"), col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(dec("value")).cast("double").as("sum_value"))
        .select(unix_micros(col("session_window.start")).as("session_start_us"),
          col("user_id"), col("n_events"), col("sum_value"))),

    // semi-structured JSON column: extract + aggregate. try_cast to double
    // on BOTH engines (ANSI cast-to-long would abort on a fractional k in
    // Spark while DuckDB rounds — try_cast double agrees everywhere), then
    // exact decimal summation
    "q32_events_json_props" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          sum(expr("try_cast(get_json_object(props, '$.k') as double)").cast("decimal(15,2)"))
            .cast("double").as("sum_k"),
          count(get_json_object(col("props"), "$.k")).as("n_with_k"))),

    // point-in-time enrichment: each event carries the latest prior-or-equal
    // purchase value of its user (composed as-of join, one shuffle)
    "q33_events_asof" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("purchase_value"))
      graft.operators.AsOfJoin.asOf(
        e.select(col("event_id"), col("user_id"), col("ts")), "ts",
        purchases, "ts", keyCols = Seq("user_id"), valueCols = Seq("purchase_value"))
        .select(col("event_id"), col("user_id"), col("asof_purchase_value"))
    }),

    // ---- dedup ----------------------------------------------------------
    "q40_dedup_exact" -> ((s, dir) => Dedup.exactDedup(t(s, dir, "documents"), "text", "doc_id")),
    "q41_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashPairs(t(s, dir, "documents"), "doc_id", "text", threshold = 0.7)),
    "q42_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 7, chunks = 8)),
    "q43_dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text", n = 3, threshold = 0.7)),
    "q44_dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, threshold = 0.4, numPlanes = 16, bands = 8)),
    // near-dup pairs -> connected components -> per-doc cluster label
    "q46_dedup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.7)
      Dedup.duplicateClusters(docs, "doc_id", pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
    }),
    "q45_fingerprints" -> ((s, dir) =>
      TextStats.fingerprint(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("content_fp"), col("shingle_fp"), col("simhash_fp"))),

    // ---- similarity search ---------------------------------------------
    "q50_knn_brute" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.bruteTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
    }),
    "q51_knn_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.lshTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, dim = 64, numPlanes = 16, bands = 8)
    }),
    "q52_knn_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      Similarity.ivfTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, Similarity.IvfConfig(nlist = 32, nprobe = 4))
    }),
    // product quantization (32x compression: 64-dim floats -> 8 byte codes)
    // + ADC scan + exact rerank. The neighbor rows are KMeans-dependent, so
    // the EXPORTED result is the engine-replayable recall CONTRACT (q19's
    // pattern): recall@10 vs the exact brute-force top-10 must clear 0.5
    // per query — pinned TRUE by the oracle, so a codebook/ADC/rerank
    // regression fails the hash-compare
    "q133_knn_pq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val pq = Similarity.pqTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, Similarity.PqConfig(m = 8, ksub = 32), rerank = 100)
      val brute = Similarity.bruteTopK(e, "vec_id", "embedding", q, "vec_id", "embedding", k = 10)
      val hits = pq.join(brute.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("__n_hit"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("__n_hit"), lit(0L)) >= 5L).as("recall_ok"))
    }),

    // the composed IVF-PQ architecture (coarse cells -> ADC over probed
    // cells' byte codes -> exact rerank), exported as the same recall
    // contract as q133 — through BOTH approximations recall@10 vs brute
    // must clear 0.5 per query
    "q135_knn_ivfpq" -> ((s, dir) => {
      // cosine retrieval => index the UNIT-SPHERE copy (L2² = 2 - 2·cos
      // there, so euclidean cells/codes rank by cosine); cosine itself is
      // scale-invariant so the contract's ground truth is unchanged
      val e = t(s, dir, "embeddings")
        .withColumn("embedding", Similarity.l2normalized(col("embedding")))
      val q = e.filter(col("vec_id") < 5)
      val (ivf, pq) = Similarity.buildIvfPq(e, "vec_id", "embedding",
        Similarity.IvfConfig(nlist = 32, nprobe = 16),
        Similarity.PqConfig(m = 8, ksub = 32))
      val approx = Similarity.searchIvfPq(ivf, pq, e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10, nprobe = 16, rerank = 300)
      val brute = Similarity.bruteTopK(e, "vec_id", "embedding", q, "vec_id", "embedding", k = 10)
      val hits = approx.join(brute.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("__n_hit"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("__n_hit"), lit(0L)) >= 5L).as("recall_ok"))
    }),

    // array-column function surface over the embedding table; norm_sq runs
    // the codegen vec_dot kernel (bit-exact vs DuckDB list_dot_product)
    "q53_vector_funcs" -> ((s, dir) =>
      t(s, dir, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("n_dims"),
        element_at(col("embedding"), 1).as("e_first"),
        array_min(col("embedding")).as("e_min"),
        array_max(col("embedding")).as("e_max"),
        graft.functions.vec_dot(col("embedding"), col("embedding")).as("norm_sq"))),

    // array higher-order functions (filter/exists/position) — the lambda
    // surface; fine OUTSIDE hot loops (interpreted per element — the hot
    // kernels use codegen expressions instead, see README)
    "q105_array_hofs" -> ((s, dir) =>
      t(s, dir, "embeddings").select(
        col("vec_id"),
        size(filter(col("embedding"), x => x > 0f)).cast("long").as("n_pos"),
        exists(col("embedding"), x => x > 2f).as("has_gt2"),
        array_position(col("embedding"), array_max(col("embedding"))).as("argmax_pos"))),

    // heavy hitters via the production two-pass pattern: a Misra-Gries
    // sketch (one pass, O(k) memory, mergeable TypedImperativeAggregate)
    // yields a candidate set PROVABLY containing every token with count
    // > N/(k+1); an exact recount of only those candidates then makes the
    // final answer deterministic and oracle-checkable. k=200 vs threshold
    // N/100 leaves a 2x guarantee margin.
    "q106_heavy_hitters" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(Dedup.tokens(col("text"))).as("tok"))
      val sketch = toks.agg(
        graft.functions.frequent_items(col("tok"), 200).as("cand"),
        count(lit(1)).as("n")).head()
      val n = sketch.getLong(1)
      val cands = sketch.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
      toks.filter(col("tok").isin(cands: _*))
        .groupBy(col("tok"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * lit(100L) >= lit(n))
    }),

    // ---- multimodal: REAL compressed-image decode (JDK ImageIO) ---------
    // PNG (even ids) / BMP (odd ids) payloads genuinely encoded + decoded;
    // features = grayscale histogram over the DECODED raster. Both formats
    // are lossless, so DuckDB recomputes the histogram moment from the
    // closed-form pixel formula — a codec bug breaks the hash-compare
    "q70_multimodal_features" -> ((s, dir) =>
      Multimodal.imageGrayHistogram(
        Multimodal.attachSyntheticImage(
          t(s, dir, "documents").select(col("doc_id")), "doc_id", w = 24, h = 16),
        "img", bins = 16)
        .select(col("doc_id"), col("media_type"),
          size(col("features")).cast("long").as("feat_dim"),
          col("n_pixels"),
          aggregate(zip_with(col("gray_counts"),
              sequence(lit(0L), lit(15L)), (c, b) => c * b),
            lit(0L), (acc, x) => acc + x).as("hist_moment"))),
    // REAL frame sampling over compressed video: AVI container parse ->
    // every 3rd '00dc' frame -> JPEG decode -> per-frame rows. Formerly a
    // byte-slice stub; now the container walk, frame selection, and decode
    // are genuine, and the lossy-robust outputs ride a full hash oracle
    "q71_multimodal_frames" -> ((s, dir) =>
      Multimodal.aviFrameSample(
        Multimodal.attachSyntheticMjpegAvi(
          t(s, dir, "documents").select(col("doc_id")).filter(col("doc_id") % 5 === 1),
          "doc_id", nScenes = 3, framesPerScene = 4, w = 16, h = 12),
        "avi", stride = 3)
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("is_bright"))),
    // REAL thumbnail pipeline over compressed inputs: ImageIO decode ->
    // shared P6 toolchain (box-filter resize, truncating block averages) ->
    // per-channel means of the 8x8 thumbnail, oracle-recomputed in SQL
    "q72_multimodal_resize" -> ((s, dir) => {
      val img = Multimodal.attachSyntheticImage(
        t(s, dir, "documents").select(col("doc_id")), "doc_id", w = 24, h = 16)
      val ppm = Multimodal.transcodeToPpm(img, "img")
      Multimodal.ppmStats(
        Multimodal.ppmResize(ppm, "ppm", outW = 8, outH = 8)
          .select(col("doc_id"), col("media_type"), col("thumb_ppm")),
        "thumb_ppm")
        .select(col("doc_id"), col("media_type"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
    }),

    // real PPM decode path: valid P6 payloads generated from a closed-form
    // pixel formula, genuinely decoded; DuckDB recomputes the decoded
    // statistics from the formula — an encode/parse/decode bug breaks the
    // hash-compare
    "q73_ppm_decode_stats" -> ((s, dir) =>
      Multimodal.ppmStats(
        Multimodal.attachSyntheticPpm(
          t(s, dir, "documents").select(col("doc_id")), "doc_id", w = 32, h = 24),
        "ppm")
        .select(col("doc_id"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))),
    // decode -> box-filter resize -> re-encode -> decode again; the oracle
    // recomputes the truncating block averages in SQL, pinning the actual
    // resize arithmetic
    "q74_ppm_resize_stats" -> ((s, dir) => {
      val ppm = Multimodal.attachSyntheticPpm(
        t(s, dir, "documents").select(col("doc_id")), "doc_id", w = 32, h = 24)
      val resized = Multimodal.ppmResize(ppm, "ppm", outW = 8, outH = 6)
      Multimodal.ppmStats(resized.select(col("doc_id"), col("thumb_ppm")), "thumb_ppm")
        .select(col("doc_id"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))
    }),

    // real WAV decode path: valid RIFF/PCM payloads, genuinely parsed;
    // oracle recomputes decoded audio stats from the sample formula
    "q75_wav_decode_stats" -> ((s, dir) =>
      Multimodal.wavStats(
        Multimodal.attachSyntheticWav(
          t(s, dir, "documents").select(col("doc_id")), "doc_id",
          sampleRate = 8000, nSamples = 1200),
        "wav")
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          col("duration_s"), col("mean_amp"), col("rms_amp"))),

    // real video frame extraction: concatenated-P6 payload, frame
    // boundaries recovered by PARSING each header; every 2nd frame decoded
    // and reduced to channel means, oracle-recomputed from the formula
    "q76_video_frame_stats" -> ((s, dir) =>
      Multimodal.videoFrameStats(
        Multimodal.attachSyntheticPpmVideo(
          t(s, dir, "documents").select(col("doc_id")), "doc_id",
          w = 16, h = 8, nFrames = 8),
        "video", stride = 2)
        .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))),

    // decode -> decimate by 4 -> re-encode -> decode again: the oracle
    // recomputes the kept samples' stats from the formula at stride 4
    "q77_wav_resample_stats" -> ((s, dir) => {
      val wav = Multimodal.attachSyntheticWav(
        t(s, dir, "documents").select(col("doc_id")), "doc_id",
        sampleRate = 8000, nSamples = 1200)
      Multimodal.wavStats(
        Multimodal.wavResample(wav, "wav", factor = 4)
          .select(col("doc_id"), col("resampled_wav")),
        "resampled_wav")
        .select(col("doc_id"), col("sample_rate"), col("n_samples"),
          col("duration_s"), col("mean_amp"), col("rms_amp"))
    }),
    // grayscale reduction over genuinely decoded pixels (truncating
    // (r+g+b)/3), exact count/mean/min/max vs the closed-form oracle
    "q78_ppm_grayscale_stats" -> ((s, dir) =>
      Multimodal.ppmGrayscaleStats(
        Multimodal.attachSyntheticPpm(
          t(s, dir, "documents").select(col("doc_id")), "doc_id", w = 32, h = 24),
        "ppm")
        .select(col("doc_id"), col("n_pixels"), col("mean_gray"),
          col("min_gray"), col("max_gray"))),

    // ---- text analysis --------------------------------------------------
    "q60_text_stats" -> ((s, dir) =>
      TextStats.withStats(t(s, dir, "documents"), "text", prefix = "stat_")
        .select(col("doc_id"), col("stat_n_chars"), col("stat_n_tokens"),
          col("stat_punct_ratio"), col("stat_digit_ratio"), col("stat_space_ratio"),
          col("stat_mean_token_len"))),
    "q61_text_quality" -> ((s, dir) =>
      TextStats.qualityScore(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("quality_score"))),
    "q62_text_langid" -> ((s, dir) =>
      TextStats.langId(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("lang_pred"), col("lang_pred_score"))),
    "q63_token_counts" -> ((s, dir) =>
      TextStats.withTokenCounts(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("ws_tokens"), col("bpe_ish_tokens"))),

    // ---- corpus curation: repetition / PII / decontamination / budgets --
    // Gopher-style repetition filters as distributed aggs
    "q64_repetition_stats" -> ((s, dir) =>
      CorpusFilters.repetitionStats(t(s, dir, "documents"), "doc_id", "text")),
    // PII counts + redaction; the redacted text rides as an md5 so the
    // compare stays narrow (this corpus is PII-free — the crafted-input
    // spec carries the hit/redaction semantics, the gate pins schema and
    // the zero-hit contract)
    "q65_pii_scan" -> ((s, dir) =>
      CorpusFilters.piiScan(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("email_cnt"), col("ipv4_cnt"), col("phone_cnt"),
          col("pii_total"), md5(col("redacted").cast("binary")).as("redacted_md5"))),
    // benchmark decontamination: eval set = doc_id % 50 == 0 (10 docs at
    // every SF), train = the rest; 5-gram overlap counts per train doc
    "q66_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      CorpusFilters.decontaminate(
        docs.filter(col("doc_id") % 50 =!= 0), docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 5)
    }),
    // corpus-wide top-100 adjacent-word bigrams, deterministic rank
    "q67_top_bigrams" -> ((s, dir) =>
      CorpusFilters.topBigrams(t(s, dir, "documents"), "doc_id", "text", k = 100)),
    // duplicated 16-token spans (exact-substring dedup signal)
    "q68_dup_spans" -> ((s, dir) =>
      Dedup.duplicatedSpans(t(s, dir, "documents"), "doc_id", "text", n = 16)),
    // deterministic 50%-of-tokens-per-source mixture subset
    "q55_token_budget" -> ((s, dir) =>
      CorpusFilters.tokenBudget(t(s, dir, "documents"), "doc_id", "text", "source",
        budgetFrac = 0.5)),
    // per-source mixture report (doc/token counts + corpus fractions)
    "q56_mixture_report" -> ((s, dir) =>
      CorpusFilters.mixtureReport(t(s, dir, "documents"), "text", "source")),
    // temperature-based mixture reweighting: weight ∝ share^0.5 (sqrt path
    // — IEEE-exact on both engines), 10k-token budget
    "q57_temperature_mixture" -> ((s, dir) =>
      CorpusFilters.temperatureMixture(t(s, dir, "documents"), "text", "source",
        tau = 0.5, budgetTokens = 10000L)),
    // deterministic 80/10/10 train/val/test assignment by md5 bucket —
    // reproducible on any engine, stable under corpus growth
    "q58_hash_split" -> ((s, dir) =>
      CorpusFilters.hashSplit(t(s, dir, "documents"), "doc_id",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .select(col("doc_id"), col("split_bucket"), col("split"))),
    // sequence packing: per-source 2048-token context windows, one row per
    // (source, pack) with doc/token counts and covered id range
    "q59_sequence_packing" -> ((s, dir) =>
      CorpusFilters.packSequences(t(s, dir, "documents"), "doc_id", "text",
        "source", windowTokens = 2048L)),
    // overlapping 200-char / 150-char-stride chunking (retrieval prep);
    // chunk text rides as md5 so the compare stays narrow
    "q79_doc_chunks" -> ((s, dir) =>
      TextStats.chunkText(t(s, dir, "documents"), "doc_id", "text",
        chunkChars = 200, strideChars = 150)),

    // Z-order layout rewrite round-trip: rewrite events clustered on the
    // (user_id, value) Morton curve, then range-probe the rewritten copy —
    // results must equal the same probe on the original table (layout is
    // physical only); ZOrderSpec separately pins the row-group pruning
    "q97_zorder_scan" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"), col("value"))
      val out = graft.io.TempDirs.create("graft_zorder_gate").toString
      graft.io.ZOrder.writeZOrdered(ev, out, "user_id", "value", numFiles = 4)
      graft.io.ParquetIO.read(s, out)
        .filter(col("user_id") <= 18 && col("value") <= 60.0)
        .groupBy((col("user_id") % 4).as("user_mod"))
        .agg(count(lit(1)).as("n_rows"),
          sum(dec("value")).cast("double").as("sum_value"),
          sum(col("event_id")).as("sum_event_ids"))
    }),

    // full curation pipeline (capstone): language + quality + repetition +
    // PII + decontamination filters, exact dedup, 50% per-source token
    // budget, mixture accounting — ONE declarative plan over seven library
    // operators; eval docs (doc_id % 50 == 0, the quarantined benchmark
    // set) never enter the training side
    "q98_curation_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 50 =!= 0)
      val evalSet = docs.filter(col("doc_id") % 50 === 0)
      val scored = TextStats.qualityScore(TextStats.langId(train, "text"), "text")
      val rep = CorpusFilters.repetitionStats(train, "doc_id", "text")
        .select(col("doc_id"), col("top_word_frac"), col("distinct_word_frac"))
      val pii = CorpusFilters.piiScan(train.select(col("doc_id"), col("text")), "text")
        .select(col("doc_id"), col("pii_total"))
      val decon = CorpusFilters.decontaminate(train, evalSet, "doc_id", "text", n = 5)
        .select(col("doc_id"), col("contaminated"))
      val kept = scored
        .join(rep, Seq("doc_id")).join(pii, Seq("doc_id")).join(decon, Seq("doc_id"))
        .filter(col("lang_pred") === "en" && col("quality_score") >= 0.3 &&
          col("top_word_frac") <= 0.3 && col("distinct_word_frac") >= 0.25 &&
          col("pii_total") === 0 && !col("contaminated"))
      val deduped = Dedup.exactDedup(kept, "text", "doc_id")
      CorpusFilters.tokenBudget(deduped, "doc_id", "text", "source", budgetFrac = 0.5)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ws_tokens")).as("sum_ws_tokens"))
    }),
    // SemDeDup-style semantic dedup over embeddings (KMeans cells +
    // intra-cell cosine); seeded KMeans is not SQL-expressible -> rows-only
    // in the gate, planted-duplicate ground truth in SimilaritySpec
    "q54_semdedup" -> ((s, dir) =>
      Similarity.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        Similarity.SemDedupConfig(nlist = 16, threshold = 0.92))),

    // ---- additional analytics surface ----------------------------------
    // hopping (sliding) event-time windows: 1h length, 30m slide — every
    // event lands in exactly 2 windows; epoch-aligned like the tumbling q30
    "q90_hopping_windows" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
        .groupBy(window(col("event_time"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(15,2)")).cast("double").as("sum_value"))
        .select(expr("unix_micros(window.start) div 1000000").as("bucket_s"),
          col("event_type"), col("n_events"), col("sum_value"))),

    // pivot (long -> wide): per-returnflag quantity by linestatus; values
    // pinned so the output schema is static
    "q91_pivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(dec("l_quantity")))
        .select(col("l_returnflag"),
          coalesce(col("F"), lit(0)).cast("double").as("qty_f"),
          coalesce(col("O"), lit(0)).cast("double").as("qty_o"))),

    // per-dimension centroids of embedding groups: posexplode -> two-level
    // key agg. Elements are accumulated in FIXED POINT (floor(v·2^30) as
    // long): scaling a double by a power of two is exact, floor is exact,
    // and integer sums are order-independent — so the result is bit-exact
    // vs the oracle under any partitioning. (A decimal-cast sum is NOT:
    // DuckDB's double->decimal rounds through a 10^scale double multiply,
    // which can land 1 ulp away from Spark's exact BigDecimal rounding.)
    "q92_vector_centroids" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select((col("vec_id") % 8).cast("long").as("grp"), posexplode(col("embedding")))
        .select(col("grp"), (col("pos") + 1).cast("long").as("dim_pos"),
          floor(col("col").cast("double") * 1073741824d).cast("long").as("vfx"))
        .groupBy(col("grp"), col("dim_pos"))
        .agg(count(lit(1)).as("n"), sum(col("vfx")).as("sum_fx"))
        .select(col("grp"), col("dim_pos"), col("n"),
          (col("sum_fx").cast("double") / 1073741824d).as("sum_val"),
          (col("sum_fx").cast("double") / col("n").cast("double") / 1073741824d).as("mean_val"))),

    // regex scalar-function surface (extract / count / strip)
    "q93_regex_extract" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        regexp_extract(col("text"), "^(\\w+)", 1).as("first_word"),
        // group index 0 explicitly: Spark defaults idx to 1 (DuckDB to 0)
        size(expr("regexp_extract_all(text, '\\\\bthe\\\\b', 0)")).cast("long").as("n_the"),
        length(regexp_replace(col("text"), "[aeiou]", "")).cast("long").as("len_novowels"))),

    // time-series resample with gap fill: per-type hourly counts on a dense
    // hour spine (sequence+explode — the spine is generated distributed,
    // never collected)
    "q94_resample_gapfill" -> ((s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"), expr("(ts div 3600000000000) * 3600").as("bucket_s"))
        .agg(count(lit(1)).as("n_raw"))
      val spine = hourly.groupBy(col("event_type"))
        .agg(min(col("bucket_s")).as("mn"), max(col("bucket_s")).as("mx"))
        .select(col("event_type"), explode(sequence(col("mn"), col("mx"), lit(3600L))).as("bucket_s"))
      spine.join(hourly, Seq("event_type", "bucket_s"), "left")
        .select(col("event_type"), col("bucket_s"), coalesce(col("n_raw"), lit(0L)).as("n_events"))
    }),

    // typed JSON parse (from_json with an explicit schema, vs q32's untyped
    // path extraction); long arithmetic only — exact on both engines
    "q95_from_json" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).as("j"))
        .groupBy(col("event_type"), (col("j.k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n"), sum(col("j.k")).as("sum_k"))),

    // GK percentile sketch (mergeable, one pass, bounded memory — the scale
    // path where q26's exact percentiles would need a full sort). Sketch
    // values differ across engines, so what's exported is the sketch's rank
    // GUARANTEE: accuracy=2500 bounds rank error by n/2500, so the approx
    // value must lie between the exact percentiles at p ± 2/2500 (double
    // margin absorbs interpolation edge effects); oracle pins TRUE + exact n.
    "q96_approx_percentile" -> ((s, dir) => {
      def ok(p: Double) = {
        val eps = 2.0 / 2500
        val a = percentile_approx(col("l_extendedprice").cast("double"), lit(p), lit(2500))
        val lo = expr(s"percentile(cast(l_extendedprice as double), ${p - eps})")
        val hi = expr(s"percentile(cast(l_extendedprice as double), ${math.min(1.0, p + eps)})")
        a >= lo && a <= hi
      }
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          ok(0.5).as("p50_ok"),
          ok(0.99).as("p99_ok"),
          count(lit(1)).as("n"))
    }),

    // flagship composition: the full training-data prep pipeline — language
    // filter -> quality filter -> exact dedup -> token accounting — as ONE
    // declarative plan (langid/quality/token exprs all fuse into the scan
    // projection; the only shuffles are the dedup hash-partition and the
    // final small agg). Oracle composes the q61/q62/q63 SQL as CTEs.
    "q99_corpus_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = TextStats.qualityScore(TextStats.langId(docs, "text"), "text")
      val kept = scored.filter(col("lang_pred") === "en" && col("quality_score") >= 0.3)
      val deduped = Dedup.exactDedup(kept, "text", "doc_id")
      TextStats.withTokenCounts(deduped, "text")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws_tokens")).as("sum_ws_tokens"),
          sum(col("bpe_ish_tokens")).as("sum_bpe_tokens"))
    }),

    // as-of with tolerance: matches older than 30 min are nulled (the
    // pandas merge_asof tolerance semantic), still one shuffle
    "q102_asof_tolerance" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("purchase_value"))
      graft.operators.AsOfJoin.asOf(
        e.select(col("event_id"), col("user_id"), col("ts")), "ts",
        purchases, "ts", keyCols = Seq("user_id"), valueCols = Seq("purchase_value"),
        tolerance = Some(1800000000000L)) // 30 min in nanos
        .select(col("event_id"), col("user_id"), col("asof_purchase_value"))
    }),

    // the skew-resistant bucketed as-of (time-bucket salting splits a hot
    // key across partitions; AsOfJoinSpec pins the skew split itself) —
    // same semantics as q33, checked against the same ASOF oracle
    "q107_asof_bucketed" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("purchase_value"))
      graft.operators.AsOfJoin.asOfBucketed(
        e.select(col("event_id"), col("user_id"), col("ts")), "ts",
        purchases, "ts", keyCols = Seq("user_id"), valueCols = Seq("purchase_value"),
        buckets = 32)
        .select(col("event_id"), col("user_id"), col("asof_purchase_value"))
    }),

    // dynamic-gap session windows: per-event gap (purchases close sessions
    // faster) — session_window with a Column gap, merged-interval semantics
    "q103_dynamic_sessions" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("event_time", timestamp_micros(expr("ts div 1000")))
        .groupBy(
          session_window(col("event_time"),
            when(col("event_type") === "purchase", "5 minutes").otherwise("15 minutes")),
          col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_micros(col("session_window.start")).as("session_start_us"),
          col("user_id"), col("n_events"))),

    // ---- non-parquet sources/sinks (SURVEY §2.2 absence list: the
    // reference is parquet-only; Spark's reader/writer matrix is free).
    // Round-trip: parquet -> text format on disk -> read back -> aggregate,
    // hash-checked against the oracle over the ORIGINAL table — proving
    // schema-declared text ingestion preserves longs/doubles/dates/strings.
    "q100_csv_roundtrip" -> ((s, dir) => {
      val out = graft.io.TempDirs.create("graft_csv").toString
      val orders = t(s, dir, "orders")
      orders.write.mode("overwrite").option("header", "true").csv(out)
      s.read.schema(orders.schema).option("header", "true").csv(out)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec("o_totalprice")).cast("double").as("sum_price"),
          min(col("o_orderdate")).as("first_date"))
    }),
    "q101_json_roundtrip" -> ((s, dir) => {
      val out = graft.io.TempDirs.create("graft_json").toString
      val orders = t(s, dir, "orders")
      orders.write.mode("overwrite").json(out)
      s.read.schema(orders.schema).json(out)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec("o_totalprice")).cast("double").as("sum_price"),
          max(col("o_custkey")).as("max_cust"))
    }),
    // schema evolution: two writer generations (one without `lang`), read
    // back as ONE table via mergeSchema — old rows surface NULL for the
    // added column (the lakehouse column-add path, no rewrite of old data)
    "q127_schema_evolution" -> ((s, dir) => {
      val out = graft.io.TempDirs.create("graft_evo").toString
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"), col("text")).write.mode("overwrite")
        .parquet(s"$out/gen=1")
      docs.select(col("doc_id"), col("text"), col("lang")).write.mode("overwrite")
        .parquet(s"$out/gen=2")
      s.read.option("mergeSchema", "true").parquet(s"$out/gen=1", s"$out/gen=2")
        .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"),
          coalesce(col("lang"), lit("(pre-evolution)")).as("lang"))
    }),
    // keyed upsert (MERGE-INTO semantics): a refresh batch replaces every
    // tenth document and appends ten new ones; the base side is never
    // shuffled (anti join broadcasts the small update batch)
    "q129_upsert_merge" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val refreshed = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), upper(col("text")).as("text"), col("lang"),
          lit("refresh").as("source"), col("n_chars"))
      val fresh = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("new doc "), col("doc_id").cast("string")).as("text"),
          col("lang"), lit("fresh").as("source"),
          length(concat(lit("new doc "), col("doc_id").cast("string"))).cast("long").as("n_chars"))
      Ingest.upsert(docs, refreshed.unionByName(fresh), Seq("doc_id"))
        .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"),
          col("lang"), col("source"), col("n_chars"))
    }),
    // small-file compaction: fragment the corpus into 64 files, compact
    // back by footer/listing-driven sizing (no data read to size), prove
    // content identity; the shuffle-free coalesce path
    "q130_compaction" -> ((s, dir) => {
      val tmp = graft.io.TempDirs.create("graft_compact").toString
      t(s, dir, "documents").repartition(64).write.mode("overwrite")
        .parquet(s"$tmp/fragmented")
      graft.io.ParquetIO.compact(s, s"$tmp/fragmented", s"$tmp/compacted",
        targetFileBytes = 512L << 20)
      graft.io.ParquetIO.read(s, s"$tmp/compacted")
        .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"),
          col("lang"), col("source"), col("n_chars"))
    }),
    // schema-drift audit: distributed footer-only scan over a
    // two-generation dataset planted with BOTH drift kinds — a column-add
    // (lang only in gen 2) and a physical-type change (doc_id INT32 in
    // gen 1, INT64 in gen 2); no data page is ever read
    "q132_schema_drift" -> ((s, dir) => {
      val out = graft.io.TempDirs.create("graft_drift").toString
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id").cast("int").as("doc_id"), col("text"))
        .repartition(2).write.mode("overwrite").parquet(s"$out/gen=1")
      docs.select(col("doc_id"), col("text"), col("lang"))
        .repartition(3).write.mode("overwrite").parquet(s"$out/gen=2")
      graft.io.ParquetIO.schemaReport(s, Seq(s"$out/gen=1", s"$out/gen=2"))
    }),
    // snapshot diff: per-key added/removed/changed/unchanged between two
    // corpus versions by content fingerprint — one key-shuffle full-outer
    // join over fixed-width fingerprints, document bytes never move
    "q131_corpus_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val newV = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(docs.filter(col("doc_id") < 15)
          .withColumn("doc_id", col("doc_id") + 1000000L)
          .withColumn("text", lit("added doc")))
      Ingest.snapshotDiff(docs, newV, Seq("doc_id"), md5(col("text").cast("binary")))
    }),

    "q104_orc_roundtrip" -> ((s, dir) => {
      val out = graft.io.TempDirs.create("graft_orc").toString
      val orders = t(s, dir, "orders")
      orders.write.mode("overwrite").orc(out)
      s.read.orc(out) // ORC is self-describing: no schema declaration needed
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec("o_totalprice")).cast("double").as("sum_price"),
          countDistinct(col("o_custkey")).as("n_cust"))
    }),

    // ---- structured streaming (finite replay through real stream plans) --
    // each runs readStream -> transform -> memory sink to completion via
    // Trigger.AvailableNow, then returns the drained sink table; see
    // StreamGate scaladoc for why the results are deterministic enough for
    // exact SQL oracles (complete-mode aggs, sentinel-flushed sessions)
    "q80_stream_hourly" -> ((s, dir) => StreamGate.hourlyAgg(s, dir)),
    "q81_stream_dedup" -> ((s, dir) => StreamGate.dedupKeys(s, dir, "event_type")),
    "q82_stream_sessions" -> ((s, dir) => StreamGate.sessions(s, dir)),
    // the sampled rows themselves are hash-seeded (no cross-engine oracle);
    // what IS oracle-checkable is the sample's contract against the batch
    // table: every sampled id exists in events, ids are unique, and the
    // rate is within 5 sigma of the target ratio (deterministic per seed,
    // and the bound scales with n so any SF passes)
    "q83_stream_sample" -> ((s, dir) => {
      val sampled = StreamGate.sample(s, dir, ratio = 0.1, seed = 42L)
      val ev = t(s, dir, "events")
      val stats = sampled.agg(
        count(lit(1)).as("__n_sampled"),
        countDistinct(col("event_id")).as("__n_distinct"))
      val escaped = sampled.select(col("event_id"))
        .join(ev.select(col("event_id")), Seq("event_id"), "left_anti")
        .agg(count(lit(1)).as("__n_bad"))
      stats.crossJoin(escaped).crossJoin(ev.agg(count(lit(1)).as("n_events")))
        .select(col("n_events"),
          (col("__n_bad") === 0).as("ids_in_events_ok"),
          (col("__n_sampled") === col("__n_distinct")).as("ids_distinct_ok"),
          (abs(col("__n_sampled").cast("double") / col("n_events") - 0.1)
            <= lit(5.0) * sqrt(lit(0.1 * 0.9) / col("n_events"))).as("rate_ok"))
    }),
    "q84_stream_interval_join" -> ((s, dir) => StreamGate.intervalJoin(s, dir)),
    "q85_stream_static_join" -> ((s, dir) => StreamGate.staticJoin(s, dir)),
    // stateless per-row curation filter on a document stream: append-mode
    // emission equals the batch projection exactly (no state, no watermark)
    "q86_stream_corpus_filter" -> ((s, dir) => StreamGate.corpusFilter(s, dir)),
    // stateless streaming router: emitted assignment == batch q58 oracle
    "q87_stream_hash_split" -> ((s, dir) => StreamGate.hashSplitRoute(s, dir)),
    // per-user funnel state machine (flatMapGroupsWithState), sentinel-
    // flushed; emitted stages == batch q113 exactly
    "q88_stream_funnel" -> ((s, dir) => StreamGate.funnel(s, dir)),
    // stream-static LEFT ANTI join (the streaming ingest gate): stateless
    // per row, emitted set == the batch anti join exactly
    "q89_stream_ingest_filter" -> ((s, dir) => StreamGate.ingestFilter(s, dir)),
    // the custom bottom-k sketch as STREAMING aggregation state: mergeable
    // + order-independent => complete-mode output == the batch selection
    "q134_stream_topk" -> ((s, dir) => StreamGate.topKPerGroup(s, dir)),

    // ranking-function surface: dense_rank / percent_rank / ntile /
    // cume_dist share one window sort (deterministic tie-break on key)
    "q37_rank_funcs" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderpriority"),
        dense_rank().over(w).cast("long").as("drank"),
        percent_rank().over(w).as("prank"),
        ntile(4).over(w).cast("long").as("quartile"),
        cume_dist().over(w).as("cdist"))
    }),

    // order-insensitive grouped list: sort_array pins element order so the
    // aggregated list is deterministic under any partitioning (arrays are
    // serialized to csv because the harness row-compare can't sort arrays)
    "q48_grouped_list" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          array_join(
            transform(sort_array(collect_list(col("o_orderkey"))), _.cast("string")),
            ",").as("orderkeys_csv"))),

    // ---- keyword extraction / LM scoring / linkage / layout -------------
    // per-doc top-3 TF-IDF keywords; BM25-rational idf so the score is
    // IEEE-exact cross-engine (see CorpusFilters.tfidfKeywords scaladoc)
    "q110_tfidf_keywords" -> ((s, dir) =>
      CorpusFilters.tfidfKeywords(t(s, dir, "documents"), "doc_id", "text", k = 3)),
    // integer-exact bigram corpus-support / novelty scoring (the oracle-able
    // core of an n-gram LM quality signal)
    "q111_bigram_novelty" -> ((s, dir) =>
      CorpusFilters.bigramNovelty(t(s, dir, "documents"), "doc_id", "text")),
    // exact edit-distance self-join (PassJoin partition blocking, reversed
    // keys because c_name's distinctive digits are a SUFFIX), verified by
    // levenshtein <= 2; the DuckDB oracle brute-forces all pairs
    "q112_fuzzy_join" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_custkey") % 10 === 0)
      FuzzyJoin.join(c, "c_custkey", "c_name", c, "c_custkey", "c_name",
          maxDist = 2, reverseKeys = true, selfPairs = true)
        .select(col("id_a"), col("id_b"), col("dist"))
    }),
    // the hot-block path of the fuzzy join (PassJoin recursive
    // partitioning): a tiny threshold forces every block through the
    // second-level complement re-blocking; the same brute-force oracle
    // proves the two-level candidate set loses no pairs on real data
    "q128_fuzzy_join_hotblock" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_custkey") % 10 === 0)
      FuzzyJoin.join(c, "c_custkey", "c_name", c, "c_custkey", "c_name",
          maxDist = 2, reverseKeys = true, selfPairs = true, hotBlockThreshold = 20)
        .select(col("id_a"), col("id_b"), col("dist"))
    }),
    // staged conversion funnel (view -> click -> purchase, each stage within
    // 24h of the previous, strictly increasing event times per user); ts
    // stays long nanos on both engines
    "q113_event_funnel" -> ((s, dir) => {
      val win = 86400000000000L // 24h in nanos
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val c = ev.filter(col("event_type") === "click").join(v, Seq("user_id"))
        .filter(col("ts") > col("t_view") && col("ts") <= col("t_view") + win)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val p = ev.filter(col("event_type") === "purchase").join(c, Seq("user_id"))
        .filter(col("ts") > col("t_click") && col("ts") <= col("t_click") + win)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      ev.select(col("user_id")).distinct()
        .join(v, Seq("user_id"), "left")
        .join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select(col("user_id"),
          when(col("t_purchase").isNotNull, 3L)
            .when(col("t_click").isNotNull, 2L)
            .when(col("t_view").isNotNull, 1L)
            .otherwise(0L).as("funnel_stage"))
        .groupBy(col("funnel_stage")).agg(count(lit(1)).as("n_users"))
    }),
    // hive-partitioned sink + partition-pruned read-back (the scan must
    // touch only lang=en directories — PartitionedSinkSpec pins the plan)
    "q114_partitioned_scan" -> ((s, dir) => {
      val out = graft.io.TempDirs.create("graft_part").toString
      graft.io.ParquetIO.writePartitioned(t(s, dir, "documents"), out, Seq("lang"))
      graft.io.ParquetIO.read(s, out).filter(col("lang") === "en")
        .select(col("doc_id"), col("text"), col("source"), col("n_chars"), col("lang"))
    }),
    // canonical pre-dedup normalization chain (lower / strip non-letters /
    // collapse whitespace), plus the normalized counts
    "q115_text_normalize" -> ((s, dir) =>
      TextStats.normalize(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("norm_text"), col("norm_text_chars"),
          col("norm_text_tokens"))),
    // cross-source contamination matrix: distinct 3-gram Jaccard overlap
    // for every unordered source pair (zero-overlap pairs included)
    "q116_source_overlap" -> ((s, dir) =>
      CorpusFilters.sourceOverlap(t(s, dir, "documents"), "source", "text", n = 3)),
    // Bloom-filter decontamination (q66's 100 TB sibling): joinless probe
    // against a one-pass mergeable filter. Probabilistic (fpp=0.01) => no
    // SQL oracle; BloomFilterSpec pins the no-false-negative contract vs
    // the exact q66 path
    "q117_bloom_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      CorpusFilters.bloomDecontaminate(
        docs.filter(col("doc_id") % 50 =!= 0), docs.filter(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 5)
    }),
    // incremental ingest: admit only batch docs (doc_id%10==0) whose
    // normalized content is NOT already in the corpus, one representative
    // per within-batch duplicate group (fp stays off the projection — the
    // oracle compares via the normalized strings themselves)
    "q118_incremental_ingest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.incrementalIngest(
        docs.filter(col("doc_id") % 10 === 0), docs.filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text")
        .select(col("doc_id"), col("batch_dups"))
    }),
    // corpus vocabulary coverage (tokenizer-training export): top-k tokens
    // with rank + integer-cumsum coverage fraction
    "q120_vocab_coverage" -> ((s, dir) =>
      CorpusFilters.vocabCoverage(t(s, dir, "documents"), "text", k = 1000)),
    // pipeline quality evaluation: language-ID confusion matrix against the
    // corpus ground-truth lang column (the eval every heuristic filter
    // should ship with)
    "q122_langid_confusion" -> ((s, dir) =>
      TextStats.langId(t(s, dir, "documents"), "text")
        .groupBy(col("lang").as("lang_true"), col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"))),
    // curriculum-training data ordering: equal-depth difficulty tiers +
    // fully tie-broken global rank (reproducible on any engine)
    "q123_curriculum_order" -> ((s, dir) =>
      CorpusFilters.curriculumOrder(t(s, dir, "documents"), "doc_id", "text", bins = 10)),
    // BPE merge discovery (tokenizer training core): iterative corpus-wide
    // top-pair merges, deterministic tie-break. Trains on a deterministic
    // 20% content-hash sample via the API's own trainFraction cap — the
    // standard tokenizer-training discipline (and the same scale-safety
    // rule as the IVF/SemDeDup quantizer caps: never ship a default that
    // makes k full-corpus passes). The iteration isn't SQL-expressible =>
    // rows-only; CorpusFiltersSpec hand-computes the merge table on a tiny
    // corpus (incl. overlap + tie cases)
    "q126_bpe_merges" -> ((s, dir) =>
      CorpusFilters.bpeMergeTable(
        t(s, dir, "documents"), "text", numMerges = 8, trainFraction = 0.2)),
    // the tokenizer's OTHER half: apply the trained merge table to the
    // full corpus. Token ids are merge-table-dependent (no SQL oracle) —
    // the EXPORTED contract is the roundtrip: tokens concatenate back to
    // exactly the lowercased whitespace-normalized text, pinned TRUE per
    // doc, plus the compression bound tokens <= chars (hand-computed
    // token sequences live in the spec)
    "q136_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = CorpusFilters.bpeMerges(docs, "text", numMerges = 8, trainFraction = 0.2)
        .map { case (_, l, r, _) => (l, r) }
      val enc = CorpusFilters.bpeEncode(docs, "doc_id", "text", merges)
      enc.join(docs.select(col("doc_id"), col("text")), "doc_id")
        .select(col("doc_id"),
          (concat_ws("", col("bpe_tokens")) ===
            concat_ws("", graft.ext.Dedup.tokens(col("text")))).as("roundtrip_ok"),
          (col("n_bpe_tokens") <= length(regexp_replace(lower(trim(col("text"))), "\\s+", "")))
            .as("compresses_ok"))
    }),
    // equi-depth histogram (quantile bucketing) of prices: NTILE semantics
    // over a fully tie-broken order, computed via GlobalRank's distributed
    // range-sort (no single-partition window), exact decimal per-bucket sums
    "q124_equidepth_histogram" -> ((s, dir) => {
      val base = t(s, dir, "lineitem")
        .select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      graft.operators.GlobalRank.withNtile(base,
          Seq(col("l_extendedprice").asc, col("l_orderkey").asc,
            col("l_linenumber").asc),
          bins = 10, binName = "bucket", rankName = "__rank")
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("l_extendedprice")).as("lo"),
          max(col("l_extendedprice")).as("hi"),
          sum(dec("l_extendedprice")).cast("double").as("sum_price"))
    }),
    // per-group z-score normalization (feature prep): `value` is 2-decimal,
    // so stats run in INTEGER cents (exact, order-independent sums — the
    // q92 fixed-point discipline) and the z formula is scale-invariant;
    // every double op is then identical on both engines
    "q125_zscore_normalize" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("__c", round(col("value") * 100).cast("long"))
      val stats = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("__n"), sum(col("__c")).as("__s"),
          sum(col("__c") * col("__c")).as("__ss"))
        .select(col("event_type"),
          (col("__s").cast("double") / col("__n").cast("double")).as("__mean"),
          sqrt((col("__ss").cast("double") -
            col("__s").cast("double") * col("__s").cast("double") / col("__n").cast("double"))
            / col("__n").cast("double")).as("__std"))
      ev.join(broadcast(stats), Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          ((col("__c").cast("double") - col("__mean")) / col("__std")).as("zscore"))
    }),
    // chunk-level dedup over content-defined chunks: gear-hash boundaries
    // aren't SQL-reproducible => rows-only; CdcSpec pins tiling,
    // edit re-alignment, and the planted-dup signal
    "q121_cdc_chunk_dedup" -> ((s, dir) =>
      Dedup.cdcChunkShared(t(s, dir, "documents"), "doc_id", "text")),
    // model-based quality filter: MLlib LR trained on the heuristic weak
    // label, scored via the exported codegen sigmoid expression. LBFGS
    // coefficients aren't SQL-reproducible => rows-only; QualityModelSpec
    // pins separability + expression-vs-MLlib agreement
    "q119_quality_model" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val labeled = TextStats.qualityScore(docs, "text")
        .withColumn("label", (col("quality_score") >= 1.0).cast("double"))
      val model = QualityModel.train(labeled, "text", "label")
      QualityModel.score(labeled, "text", model)
        .select(col("doc_id"), col("label"), col("quality_prob"))
    }),
    // corpus REWRITE family (CorpusRewrite): the corpus comes back with its
    // text rewritten, not just scored. C4-style corpus-level segment dedup —
    // every distinct 3-word segment keeps only its first (doc_id, seg)
    // occurrence anywhere in the corpus. First-occurrence is a min-struct
    // hash agg, NOT a per-segment window (no skew funnel; PlanSpec sweep)
    "q137_corpus_segment_dedup" -> ((s, dir) =>
      CorpusRewrite.dedupSegmentsCorpus(t(s, dir, "documents"), "doc_id", "text", k = 3)),
    // within-document repetition removal: repeated 2-word segments inside a
    // doc keep their lowest-position occurrence; other docs are untouched
    "q138_intradoc_segment_dedup" -> ((s, dir) =>
      CorpusRewrite.dedupSegmentsWithinDoc(t(s, dir, "documents"), "doc_id", "text", k = 2)),
    // boilerplate strip: 2-word segments present in >5% of all documents
    // (nav-bar/footer analog) are removed from every document
    "q139_boilerplate_strip" -> ((s, dir) =>
      CorpusRewrite.stripBoilerplate(t(s, dir, "documents"), "doc_id", "text",
        k = 2, maxDocFrac = 0.05)),
    // int8 scalar quantization ANN (4x memory cut, byte codes + on-the-fly
    // dequant + exact rerank), exported as the q133 recall contract:
    // recall@10 vs exact brute must clear 0.5 per query
    "q140_knn_sq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val sq = VectorOps.sqTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, rerank = 100)
      val brute = Similarity.bruteTopK(e, "vec_id", "embedding", q, "vec_id", "embedding", k = 10)
      val hits = sq.join(brute.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("__n_hit"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("__n_hit"), lit(0L)) >= 5L).as("recall_ok"))
    }),
    // seeded ±1 random projection (JL dimensionality reduction) — the sign
    // matrix is a pure function of the seed, so the oracle replays the
    // exact doubles with the same literal rows (q50's bit-exact discipline)
    "q141_random_projection" -> ((s, dir) =>
      VectorOps.randomProject(t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, outDim = 8, seed = 7L)),
    // MMR diversified rerank over a bounded pool, exported as an
    // engine-replayable contract: exactly k picks per query, the first pick
    // is the plain cosine top-1, and every pick comes from the pool
    "q142_mmr_rerank" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val mmr = VectorOps.mmrRerank(e, "vec_id", "embedding", q, "vec_id", "embedding",
        k = 10, poolSize = 50, lambda = 0.7)
      val pool = Similarity.bruteTopK(e, "vec_id", "embedding", q, "vec_id", "embedding", k = 50)
      val outOfPool = mmr.join(pool.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_anti")
        .groupBy(col("query_id")).agg(count(lit(1)).as("__out"))
      val top1 = pool.filter(col("rank") === 1)
        .select(col("query_id"), col("neighbor_id").as("__t1"))
      mmr.groupBy(col("query_id"))
        .agg(count(lit(1)).as("__n"),
          max(when(col("rank") === 1, col("neighbor_id"))).as("__first"))
        .join(top1, Seq("query_id"))
        .join(outOfPool, Seq("query_id"), "left")
        .select(col("query_id"), (col("__n") === 10L).as("k_ok"),
          (col("__first") === col("__t1")).as("first_is_top1"),
          col("__out").isNull.as("subset_ok"))
    }),
    // exact duplicated-span removal (Lee et al. ExactSubstr as a rewrite):
    // every position covered by a corpus-duplicated 8-gram is excised from
    // EVERY occurrence; sub-8-word docs pass through untouched
    "q144_dup_span_removal" -> ((s, dir) =>
      CorpusRewrite.removeDuplicatedSpans(t(s, dir, "documents"), "doc_id", "text", n = 8)),
    // partition-mergeable distinct counting: per-source HLL sketches (Spark
    // 4's built-in Apache DataSketches surface), then a sketch-UNION to the
    // global distinct — the 100 TB pattern where per-partition sketches
    // merge instead of re-scanning. Contract: every estimate lands within
    // 5% of its exact count (doc_ids are globally unique, so the exact
    // union is the sum of per-source distincts)
    "q145_hll_union" -> ((s, dir) => {
      val per = t(s, dir, "documents").groupBy(col("source"))
        .agg(hll_sketch_agg(col("doc_id")).as("__sk"),
          count_distinct(col("doc_id")).as("__true"))
      val perOk = per.select(col("source"),
        (abs(hll_sketch_estimate(col("__sk")) - col("__true")) <=
          col("__true") * 0.05 + lit(1)).as("est_ok"))
      val allOk = per.agg(hll_union_agg(col("__sk")).as("__u"), sum(col("__true")).as("__t"))
        .select(lit("__all__").as("source"),
          (abs(hll_sketch_estimate(col("__u")) - col("__t")) <=
            col("__t") * 0.05 + lit(1)).as("est_ok"))
      perOk.unionAll(allOk)
    }),
    // the NATIVE whole-operator as-of join (AsOfJoinNode -> AsOfJoinExec:
    // co-partitioned co-sorted children, one O(1)-state merge pass per
    // partition — the custom-SparkPlan rung of the extension ladder) on the
    // exact q102 workload, checked against the same DuckDB ASOF oracle
    "q146_asof_native" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("purchase_value"))
      graft.operators.AsOfJoin.asOfNative(
        e.select(col("event_id"), col("user_id"), col("ts")), "ts",
        purchases, "ts", keyCols = Seq("user_id"), valueCols = Seq("purchase_value"),
        tolerance = Some(1800000000000L))
        .select(col("event_id"), col("user_id"), col("asof_purchase_value"))
    }),
    // binaryFile ingest: raw image FILES (not inline payloads) enter via
    // Spark's binaryFile source and flow through the unchanged decode
    // chain — listing-time glob prune, per-task whole-file reads, ids
    // parsed from names. Fixture BMPs carry the closed-form raster, so
    // byte size (54 + 72*16 = 1206) and the gray histogram moment are
    // SQL-recomputable
    "q150_binaryfile_ingest" -> ((s, dir) => {
      val fixture = graft.io.TempDirs.create("graft_binfiles").toString
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 40).collect().map(_.getLong(0)).toSeq
      Multimodal.writeImageFixtureDir(fixture, ids, w = 24, h = 16)
      Multimodal.imageGrayHistogram(
        Multimodal.ingestBinaryDir(s, fixture, "*.bmp"), "content", bins = 16)
        .select(col("file_id").as("doc_id"), col("n_bytes"), col("n_pixels"),
          aggregate(zip_with(col("gray_counts"),
              sequence(lit(0L), lit(15L)), (c, b) => c * b),
            lit(0L), (acc, x) => acc + x).as("hist_moment"))
    }),
    // Hilbert-curve layout (ZORDER's better-locality sibling, n-dim): the
    // scan result is layout-independent — the oracle proves the rewrite
    // lost/duplicated nothing — while HilbertSpec pins the curve math
    // (bijective, consecutive cells Manhattan-1 adjacent) and the
    // both-dims row-group pruning the layout exists for
    "q149_hilbert_scan" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"), col("value"))
      val out = graft.io.TempDirs.create("graft_hilbert_gate").toString
      graft.io.HilbertOrder.writeHilbertOrdered(ev, out, Seq("user_id", "value"),
        numFiles = 4)
      graft.io.ParquetIO.read(s, out)
        .filter(col("user_id") <= 12 && col("value") <= 45.0)
        .groupBy((col("user_id") % 3).as("user_mod"))
        .agg(count(lit(1)).as("n_rows"),
          sum(dec("value")).cast("double").as("sum_value"),
          sum(col("event_id")).as("sum_event_ids"))
    }),
    // XML source/sink roundtrip (Spark 4's built-in xml format — the
    // spark-xml lineage merged upstream): write orders as <order> rows,
    // read back with the explicit schema, aggregate. Same
    // lossless-roundtrip contract as the CSV/JSON/ORC queries — the
    // aggregate hash-matches DuckDB over the ORIGINAL parquet, so any
    // write/read corruption fails the gate
    "q148_xml_roundtrip" -> ((s, dir) => {
      val out = graft.io.TempDirs.create("graft_xml").toString
      val orders = t(s, dir, "orders")
      orders.write.mode("overwrite").option("rowTag", "order").xml(out)
      s.read.schema(orders.schema).option("rowTag", "order").xml(out)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec("o_totalprice")).cast("double").as("sum_price"),
          max(col("o_orderdate")).as("last_date"))
    }),
    // quality-aware exact dedup: keep the BEST copy per duplicate group
    // (highest quality, ties to lowest id) via one map-side-combined
    // max_by agg — no window, no join; the curation-grade dedup policy
    "q147_dedup_keep_best" -> ((s, dir) =>
      Dedup.dedupKeepBest(t(s, dir, "documents"), "doc_id", "text",
          col("n_chars").cast("double"))
        .select(col("doc_id"), col("lang"), col("n_chars"), col("n_dups"))),
    // Count-Min frequency sketch (the estimate companion of q106's
    // Misra-Gries candidates): build once (map-side-combined aggregate, the
    // sketch not the stream crosses the wire), probe the true top-20 keys
    // from codegen. Contract pinned TRUE by the oracle: estimates are never
    // under the true count and stay within the (e/width)*N theory bound
    "q143_countmin_freq" -> ((s, dir) => {
      import graft.functions.{count_min_agg, cms_estimate}
      val keys = t(s, dir, "lineitem").select(col("l_suppkey").cast("string").as("__k"))
      val built = keys.agg(count_min_agg(col("__k"), 4, 2048).as("__cms"),
        count(lit(1)).as("__n")).head
      val sketch = built.getAs[Array[Byte]](0)
      val bound = math.ceil(math.E / 2048.0 * built.getLong(1)).toLong
      val est = cms_estimate(sketch, col("l_suppkey").cast("string"))
      t(s, dir, "lineitem").groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("__cnt"))
        .orderBy(col("__cnt").desc, col("l_suppkey").asc).limit(20)
        .select(col("l_suppkey"),
          (est >= col("__cnt")).as("lower_ok"),
          (est <= col("__cnt") + bound).as("upper_ok"))
    }),
    // perceptual image dedup: 64-bit dHash over REAL decoded payloads
    // (PNG/BMP via the JDK codec) + EXACT hamming pairs via pigeonhole
    // banding and bit_count verify (Dedup.hammingPairs — the simhash
    // machinery over an image signature). The planted near-dup groups share
    // a closed-form raster, so DuckDB recomputes every dHash bit from the
    // pixel formula and BRUTE-FORCES all pairs — a full hash oracle over
    // the whole decode→hash→LSH→verify pipeline
    "q151_image_dhash_pairs" -> ((s, dir) => {
      val imgs = Multimodal.attachSyntheticImageGroups(
        t(s, dir, "documents").select(col("doc_id")), "doc_id",
        w = 36, h = 32, groupSize = 8)
      val hashed = Multimodal.imageDHash(imgs, "img").select(col("doc_id"), col("dhash"))
      Dedup.hammingPairs(hashed, "doc_id", "dhash", maxHamming = 3, chunks = 4)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    }),
    // link-graph quality propagation: fixed-point integer PageRank (10
    // iterations) over a deterministic citation graph derived from the
    // corpus (3 modular-arithmetic out-edges per doc — the fixture; the
    // operator takes ANY edge list). Integer sums are order-independent,
    // which is what puts an ITERATIVE distributed computation on the
    // exact-hash oracle: DuckDB replays all 10 rounds as chained CTEs
    "q152_graph_pagerank" -> ((s, dir) => {
      val nodes = t(s, dir, "documents").select(col("doc_id").as("node"))
      // 1-4 out-edges per node through a quadratic map: irregular degrees
      // and a genuinely skewed rank distribution (affine maps on a ring
      // make every node symmetric -> constant ranks -> a blind oracle)
      val edges = nodes.crossJoin(nodes.agg(count(lit(1)).as("n")))
        .select(col("node").as("src"), col("n"))
        .select(col("src"), col("n"),
          explode(expr("sequence(1, 1 + src % 4)")).as("j"))
        .select(col("src"), expr("(src * (src + 3) + j * 97) % n").as("dst"))
      graft.ext.GraphOps.pageRankFixedPoint(nodes, edges, iters = 10)
        .select(col("node").as("doc_id"), col("rank_fp"))
    }),
    // per-group winsorization (outlier clipping at exact p05/p95 order
    // statistics) — the robust-scaling pass before q125's z-scores. The
    // thresholds come from ONE GlobalRank distributed total order over
    // (group, value): a group's k-th order statistic is the row at
    // global rank groupStart+k-1, so there is NO per-group window sort (a
    // 3-value group column would funnel a third of the table through one
    // task). Quantile indices are integer ceil-division — no float
    // epsilon at bucket boundaries
    "q153_winsorize" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag"), col("l_extendedprice"))
      graft.operators.RobustStats.winsorize(li, "l_returnflag", "l_extendedprice", 5, 95)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          min(col("lo")).as("p05"),
          min(col("hi")).as("p95"),
          sum(when(col("l_extendedprice") < col("lo"), 1L).otherwise(0L)).as("n_clip_lo"),
          sum(when(col("l_extendedprice") > col("hi"), 1L).otherwise(0L)).as("n_clip_hi"),
          sum(col("l_extendedprice_w").cast("decimal(15,2)")).cast("double").as("sum_w"))
    }),
    // video scene-change detection: REAL frame-by-frame decode of the
    // concatenated-P6 payload, integer grayscale-sum deltas, cuts where
    // |delta| >= 3*n_pixels (within-scene drift is exactly n_pixels, a
    // planted cut is 6*n_pixels). Wrap-free pixel formula -> DuckDB
    // recomputes every frame sum and lag-delta exactly
    "q154_video_scene_cuts" -> ((s, dir) =>
      Multimodal.sceneChanges(
        Multimodal.attachSyntheticSceneVideo(
          t(s, dir, "documents").select(col("doc_id")), "doc_id",
          w = 16, h = 12, nFrames = 12, sceneLen = 4),
        "video", minSumDiff = 3L * 16 * 12)
        .select(col("doc_id"), col("frame_idx"), col("gray_sum"),
          col("diff"), col("is_cut"))),
    // perceptual near-dup CLUSTERS: the q151 dHash pair graph through the
    // same min-label connected components as q46 — image-corpus dedup
    // end-to-end (decode -> hash -> LSH pairs -> clusters), all exact
    "q155_image_dup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val hashed = Multimodal.imageDHash(
        Multimodal.attachSyntheticImageGroups(docs, "doc_id", w = 36, h = 32, groupSize = 8),
        "img").select(col("doc_id"), col("dhash"))
      val pairs = Dedup.hammingPairs(hashed, "doc_id", "dhash", maxHamming = 3, chunks = 4)
      Dedup.duplicateClusters(docs, "doc_id", pairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
    }),
    // audio silence segmentation (energy-gate VAD): REAL RIFF/PCM decode,
    // non-overlapping 160-sample windows, integer energy vs threshold.
    // Planted silent windows at (window + id) % 3 == 0; silent energy
    // <= 4*160 and voiced >= 500^2*160, so the 1600 threshold separates
    // them with orders of magnitude to spare — and the oracle recomputes
    // every window energy exactly from the sample formula
    "q156_audio_silence" -> ((s, dir) =>
      Multimodal.audioSilence(
        Multimodal.attachSyntheticSpeechWav(
          t(s, dir, "documents").select(col("doc_id")), "doc_id",
          sampleRate = 8000, nSamples = 1600, windowLen = 160),
        "wav", windowLen = 160, maxWindowEnergy = 1600L)
        .select(col("doc_id"), col("window_idx"), col("n_window"),
          col("energy"), col("is_silent"))),
    // streaming drift monitor: per-hour event-type mix vs the global mix,
    // total variation distance with an integer numerator (one final
    // division) — streaming state maintains the counts, the score is exact
    "q157_stream_drift" -> ((s, dir) => StreamGate.driftMonitor(s, dir)),
    // FILTERED vector search: the allow-set (label % 3 = 0) semi-joins the
    // SQ index's code table BEFORE ADC scoring — index-level filtering, no
    // post-filter recall loss. rerank covers the whole filtered corpus, so
    // the result is EXACT and DuckDB brute-forces the filtered search
    "q158_knn_filtered" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val allowed = e.filter(col("label") % 3 === 0).select(col("vec_id"))
      graft.ext.VectorOps.searchSq(
        graft.ext.VectorOps.buildSqIndex(e, "vec_id", "embedding"),
        e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 10, rerank = 1000000, allowed = Some(allowed))
    }),
    // hybrid retrieval: lexical word-3-gram overlap + vector cosine fused
    // by reciprocal-rank fusion — the standard hybrid-search ranking; both
    // ranks and the two-term fused score are engine-reproducible exactly
    "q159_hybrid_rrf" -> ((s, dir) => {
      val corpus = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .join(t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
          col("doc_id") === col("vec_id"))
        .select(col("doc_id").as("id"), col("text"), col("embedding"))
      val queries = corpus.filter(col("id") < 5)
      val scored = corpus
        .select(col("id").as("neighbor_id"),
          Dedup.shingles(col("text"), 3).as("__ds"), col("embedding").as("__dv"))
        .join(broadcast(queries.select(col("id").as("query_id"),
          Dedup.shingles(col("text"), 3).as("__qs"), col("embedding").as("__qv"))))
        .withColumn("lex", size(array_intersect(col("__ds"), col("__qs"))).cast("long"))
        .withColumn("cosine", graft.functions.vec_cosine(col("__dv"), col("__qv")))
      Similarity.rrfFuse(scored, "lex", "cosine", k = 10, kRrf = 60)
    }),
    // incremental IMAGE ingest gate (q118's sibling for the visual
    // modality): a batch of arriving images is admitted only where its
    // dHash is NOT within hamming 3 of any corpus image — even-indexed
    // batch rows duplicate existing corpus groups (rejected), odd rows are
    // novel patterns (admitted unless a genuine hash collision, which the
    // oracle replays identically). The corpus's distinct dHash set is the
    // small persistable artifact between ingests
    "q160_image_ingest_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val corpusHash = Multimodal.imageDHash(
        Multimodal.attachSyntheticImageGroups(docs, "doc_id", w = 36, h = 32, groupSize = 8),
        "img").select(col("dhash"))
      val batchIds = docs.filter(col("doc_id") < 100)
        .select((lit(1000000L) + col("doc_id")).as("batch_id"),
          when(col("doc_id") % 2 === 0, expr("doc_id div 2"))
            .otherwise(lit(1000000L) + col("doc_id")).as("bid"))
      val batchHash = Multimodal.imageDHash(
        Multimodal.attachSyntheticImageGroups(batchIds, "bid", w = 36, h = 32, groupSize = 8),
        "img").select(col("batch_id"), col("dhash"))
      Dedup.hammingIngestFilter(batchHash, corpusHash, "batch_id", "dhash",
          maxHamming = 3, chunks = 4)
        .select(col("batch_id"),
          shiftrightunsigned(col("dhash"), 32).as("h_hi"),
          col("dhash").bitwiseAND(lit(0xFFFFFFFFL)).as("h_lo"))
    }),
    // 1-bit binary-quantized ANN: sign bits packed into 32-bit words (32x
    // smaller than float32 — the most compressed ANN tier), hamming
    // shortlist over the code table only, exact-cosine rerank. Every stage
    // is deterministic (hamming ints, total-order tie-breaks, q50's
    // bit-exact cosine), so DuckDB replays the WHOLE pipeline — codes,
    // shortlist cut, rerank — not just a recall contract
    "q161_knn_binary" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ext.VectorOps.searchBinary(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 5), "vec_id", "embedding",
        dim = 64, k = 10, rerank = 50)
    }),
    // exact triangle counting (compact-forward, degree-oriented) over the
    // q152 citation-graph fixture — the clustering-coefficient numerator.
    // Degree orientation bounds any hub's wedge fan-out by O(sqrt(m));
    // DuckDB replays the same orientation and joins
    "q162_graph_triangles" -> ((s, dir) => {
      val nodes = t(s, dir, "documents").select(col("doc_id").as("node"))
      val edges = nodes.crossJoin(nodes.agg(count(lit(1)).as("n")))
        .select(col("node").as("src"), col("n"))
        .select(col("src"), col("n"),
          explode(expr("sequence(1, 1 + src % 4)")).as("j"))
        .select(col("src"), expr("(src * (src + 3) + j * 97) % n").as("dst"))
      graft.ext.GraphOps.triangleCount(edges)
        .select(col("node").as("doc_id"), col("n_triangles"))
    }),
    // median/MAD robust outlier flags per group — the heavy-tail-immune
    // outlier gate (one wild value moves a mean/stddev arbitrarily, a
    // median not at all). Both order statistics come from GlobalRank total
    // orders (no per-group window sort); prices run in integer cents and
    // the 1.5x-MAD comparison is cross-multiplied, so every flag is
    // integer-exact
    "q163_mad_outliers" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
      graft.operators.RobustStats.madOutliers(li, "l_returnflag", "cents",
          kNum = 3, kDen = 2)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          min(col("med")).as("med_cents"),
          min(col("mad")).as("mad_cents"),
          sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_outliers"),
          sum(when(col("is_outlier"), col("cents")).otherwise(0L)).as("sum_outlier_cents"))
    }),
    // stream-stream LEFT OUTER interval join: clicks annotated with the
    // purchases that followed within 1h, or an explicit no-conversion row.
    // Outer rows only flush when the watermark proves no match can arrive;
    // the sentinel file pushes it past every horizon, so the emitted set
    // equals the batch LEFT OUTER join exactly
    "q164_stream_interval_outer" -> ((s, dir) => StreamGate.intervalJoinOuter(s, dir)),
    // URL canonicalization (the C4/RefinedWeb URL-dedup key): a synthetic
    // messy-URL fixture (case-mixed scheme/host, www., tracking params,
    // fragments, trailing slashes) collapses under the normalize chain;
    // per-domain accounting shows the dedup effect (distinct raw URLs vs
    // distinct normalized). RE2-safe regex chain — DuckDB replays it
    // identically
    "q165_url_normalize" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
        .withColumn("url", expr(urlFixtureSql))
      val normed = docs
        .withColumn("norm_url", TextStats.urlNormalize(col("url")))
        .withColumn("domain", TextStats.urlDomain(col("norm_url")))
      normed.groupBy(col("domain"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("url")).as("n_distinct_raw"),
          countDistinct(col("norm_url")).as("n_distinct_norm"),
          min(col("norm_url")).as("first_url"))
    }),
    // contrastive-training triplet mining: per anchor, the hardest positive
    // (same label, highest cosine) and hardest negative (different label,
    // highest cosine) plus the margin — one mergeable bottom-k aggregate
    // per (anchor, side), no window over the corpus-sized score relation
    "q166_hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ext.VectorOps.hardestPairs(e, "vec_id", "embedding", "label",
        e.filter(col("vec_id") < 50))
    }),
    // token-balanced shard assignment (the training-shard writer's split):
    // md5-ordered docs, shard = floor(exclusiveTokenPrefix * n / total) —
    // prefix sums from GlobalRank's two-pass distributed scan, NOT a
    // global sum-over window; integer arithmetic end to end
    "q167_pack_shards" -> ((s, dir) =>
      CorpusFilters.packShards(t(s, dir, "documents"), "doc_id", "text", nShards = 8)),
    // synchronous label propagation (5 deterministic rounds, ties to the
    // smallest label) over the q152 citation graph, seeded with node % 10
    // — community structure by pure integer argmax votes, every round
    // replayed by the oracle
    "q168_label_propagation" -> ((s, dir) => {
      val nodes = t(s, dir, "documents").select(col("doc_id").as("node"))
      val edges = nodes.crossJoin(nodes.agg(count(lit(1)).as("n")))
        .select(col("node").as("src"), col("n"))
        .select(col("src"), col("n"),
          explode(expr("sequence(1, 1 + src % 4)")).as("j"))
        .select(col("src"), expr("(src * (src + 3) + j * 97) % n").as("dst"))
      graft.ext.GraphOps.labelPropagation(
        nodes.withColumn("label", col("node") % 10), edges, iters = 5)
        .select(col("node").as("doc_id"), col("label"))
    }),
    // k-core backbone: 6 synchronous peeling rounds at k=3 on the same
    // graph — every round's degree table and edge survivor set replays
    "q169_kcore" -> ((s, dir) => {
      val nodes = t(s, dir, "documents").select(col("doc_id").as("node"))
      val edges = nodes.crossJoin(nodes.agg(count(lit(1)).as("n")))
        .select(col("node").as("src"), col("n"))
        .select(col("src"), col("n"),
          explode(expr("sequence(1, 1 + src % 4)")).as("j"))
        .select(col("src"), expr("(src * (src + 3) + j * 97) % n").as("dst"))
      graft.ext.GraphOps.kCoreSurvivors(edges, k = 3, rounds = 6)
        .select(col("node").as("doc_id"), col("degree"))
    }),
    // time-series anomaly detection: hourly event-volume outliers by
    // per-type median/MAD gates (q163's machinery over the q30 buckets) —
    // the alerting pass an ingest pipeline runs on its own telemetry;
    // robust gates don't let one crazy hour drag the threshold the way a
    // mean/stddev gate would
    "q172_anomalous_hours" -> ((s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy((expr("ts div 3600000000000") * 3600).cast("long").as("bucket_s"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      graft.operators.RobustStats.madOutliers(
          hourly, "event_type", "n_events", kNum = 3, kDen = 1)
        .filter(col("is_outlier"))
        .select(col("event_type"), col("bucket_s"),
          col("n_events"), col("med"), col("mad"))
    }),
    // asymmetric containment join: |A∩B|/|A| >= 0.8 with A the smaller
    // shingle set — the subset-duplicate detector Jaccard structurally
    // misses (a doc fully quoted inside a much larger one); PPJoin prefix
    // on the contained side only, probed against full postings
    "q174_containment_pairs" -> ((s, dir) =>
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.8)),
    // dedup-tier QA harness: the LSH tier audited against the exact tier
    // on the same corpus and threshold — the acceptance test a pipeline
    // runs before swapping the O(n^2)-free tier in. Precision is
    // structural (minhash candidates are exact-jaccard verified => LSH
    // pairs are a subset of the true pairs); recall >= 0.8 is the pinned
    // contract; the true pair count rides the hash oracle
    "q173_dedup_qa" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.7)
        .select(col("id_a"), col("id_b"))
      val lsh = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.7)
        .select(col("id_a"), col("id_b"))
      // ONE pass over a tagged union (r11, guide §2.4): the old
      // count/count/intersect-count plan embedded the PPJoin subtree twice
      // and the LSH subtree twice (each is a full shingle+signature pass
      // over the corpus). Per distinct pair: e = exact rows, l = lsh rows;
      // n_exact = Σe, __nl = Σl, and __nc = |pairs with e>0 ∧ l>0| — the
      // intersect-then-count value (set intersect dedups both sides)
      exact.select(col("id_a"), col("id_b"), lit(1L).as("__e"), lit(0L).as("__l"))
        .unionByName(lsh.select(col("id_a"), col("id_b"),
          lit(0L).as("__e"), lit(1L).as("__l")))
        .groupBy(col("id_a"), col("id_b"))
        .agg(sum(col("__e")).as("__pe"), sum(col("__l")).as("__pl"))
        .agg(coalesce(sum(col("__pe")), lit(0L)).as("n_exact"),
          coalesce(sum(col("__pl")), lit(0L)).as("__nl"),
          coalesce(sum(when(col("__pe") > 0 && col("__pl") > 0, 1L)
            .otherwise(0L)), lit(0L)).as("__nc"))
        .select(col("n_exact"),
          (col("__nc") === col("__nl")).as("lsh_subset_of_exact"),
          (col("__nc") * 10 >= col("n_exact") * 8).as("recall_ge_08"))
    }),
    // design-time skew salting: a synthetic hot key (a third of lineitem
    // lands on supplier 1) joins through SkewJoin.saltedInnerJoin — the
    // hot key's rows spread over 8 salted reducers instead of one; the
    // result is provably identical to the plain join, which IS the oracle
    "q170_skew_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(expr("CASE WHEN l_orderkey % 3 = 0 THEN 1 ELSE l_suppkey END").as("s_suppkey"),
          col("l_quantity"))
      val supp = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      graft.operators.SkewJoin.saltedInnerJoin(li, supp, "s_suppkey", salts = 8)
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(15,2)")).cast("double").as("sum_qty"))
    }),
    // markup-to-text extraction: documents wrapped in deterministic messy
    // HTML (script/style blocks, comments, entities incl. the &amp;lt;
    // double-escape trap) come back out as clean prose — the chain is
    // replayed step for step by the oracle
    "q171_html_strip" -> ((s, dir) => {
      val html = t(s, dir, "documents").select(col("doc_id"),
        expr(htmlFixtureSql).as("html"))
      html.select(col("doc_id"),
          TextStats.stripHtml(col("html")).as("clean_text"))
        .withColumn("n_chars", length(col("clean_text")).cast("long"))
    }),
    // cohort retention matrix: users bucketed by first-active day, distinct
    // actives per (cohort, day-offset) cell — the log collapses to distinct
    // (user, day) before anything joins; integer day buckets end to end
    "q175_retention_cohorts" -> ((s, dir) =>
      graft.ext.EventAnalytics.retentionCohorts(t(s, dir, "events"), "user_id", "ts")),
    // last-touch attribution: every purchase credited to the user's most
    // recent preceding non-purchase event within 24h (or '(none)') — one
    // carry-forward window pass per user, no log self-join
    "q176_attribution" -> ((s, dir) =>
      graft.ext.EventAnalytics.lastTouchAttribution(t(s, dir, "events"),
        "user_id", "ts", "event_type", "value", convType = "purchase",
        orderTieCol = "event_id", windowNanos = 86400000000000L)),
    // SCD type-2 compaction: per-user event_type runs → validity intervals
    // with version numbers and an is_current flag — the dimension-history
    // build, two per-user window passes
    "q177_scd2_history" -> ((s, dir) =>
      graft.ext.EventAnalytics.scd2History(t(s, dir, "events"),
        "user_id", "ts", "event_type", orderTieCol = "event_id")),
    // first-order Markov transition matrix: event_type → next event_type
    // counts and probabilities; the normalizer window runs over the
    // |types|^2 matrix, never the log
    "q178_event_transitions" -> ((s, dir) =>
      graft.ext.EventAnalytics.transitionMatrix(t(s, dir, "events"),
        "user_id", "ts", "event_type", orderTieCol = "event_id")),
    // declarative data-quality gate (the Deequ shape): 7 row-level checks +
    // a composite-key uniqueness check, ALL in one scan + one single-row
    // aggregate; qty_le_25 is deliberately failing so the passed=false path
    // is exercised end to end
    "q179_expectation_suite" -> ((s, dir) => {
      import graft.ext.Expectations._
      verify(t(s, dir, "lineitem"), Seq(
        notNull("l_orderkey"),
        nonNegative("l_quantity"),
        inRange("l_discount", 0.0, 0.1),
        inSet("l_returnflag", Seq("A", "N", "R")),
        inSet("l_linestatus", Seq("O", "F")),
        satisfies("qty_le_25", "l_quantity", col("l_quantity") <= 25.0, minFraction = 0.9),
        satisfies("ship_before_2000", "l_shipdate",
          col("l_shipdate") < lit("2000-01-01").cast("timestamp"))),
        uniqueKeys = Seq(Seq("l_orderkey", "l_linenumber")))
    }),
    // DDSketch mergeable quantile sketch (q96's contract discipline): per
    // group, p50/p90/p99 estimates pinned within the alpha=1% relative-error
    // envelope of the exact percentile (with a ±0.002 rank slack for the
    // discrete-vs-interpolated difference); the exact count rides the hash
    // oracle. Map-side combine ships one small bucket map per partition —
    // the sketch, never the values, crosses the wire
    "q180_dd_quantiles" -> ((s, dir) => {
      import org.apache.spark.sql.graft.DDSketchFunctions._
      val alpha = 0.01
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("price"))
        .groupBy(col("l_returnflag"))
        .agg(ddsketch_agg(col("price"), alpha, 4096).as("sk"),
          expr("percentile(price, array(0.498, 0.502, 0.898, 0.902, 0.988, 0.992))").as("ex"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          (dd_quantile(col("sk"), 0.5) >= col("ex")(0) * (1.0 - alpha) &&
           dd_quantile(col("sk"), 0.5) <= col("ex")(1) * (1.0 + alpha)).as("p50_ok"),
          (dd_quantile(col("sk"), 0.9) >= col("ex")(2) * (1.0 - alpha) &&
           dd_quantile(col("sk"), 0.9) <= col("ex")(3) * (1.0 + alpha)).as("p90_ok"),
          (dd_quantile(col("sk"), 0.99) >= col("ex")(4) * (1.0 - alpha) &&
           dd_quantile(col("sk"), 0.99) <= col("ex")(5) * (1.0 + alpha)).as("p99_ok"),
          col("n"))
    }),
    // PCA projection of the embedding corpus to 8 whitened components —
    // fit is one shuffle-free pass (per-partition Gram partials reduced to
    // a 64x64 driver eigendecomposition), projection a scan-fused codegen
    // chain. Eigen output is not SQL-expressible => rows-only; the
    // orthonormality/variance/whitening contracts live in PcaOpsSpec
    "q181_pca_project" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val model = graft.ext.PcaOps.fit(e, "embedding", dim = 64, k = 8)
      graft.ext.PcaOps.project(e, "vec_id", "embedding", model, whiten = true)
    }),
    // Bloom-filtered join reduction: lineitem probes a Bloom filter of the
    // urgent-order keys BEFORE the join shuffle (non-matching fact rows die
    // in the scan); the inner join removes false positives, so the oracle
    // is simply the plain join — identity is the correctness proof
    "q182_bloom_join" -> ((s, dir) => {
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.operators.BloomJoin.filteredInnerJoin(
          t(s, dir, "lineitem"), "l_orderkey", urgent, "o_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(dec("l_quantity")).cast("double").as("sum_qty"),
          countDistinct(col("o_orderkey")).as("n_orders"))
    }),
    // per-group closed-form OLS from exact decimal sufficient statistics —
    // one map-side-combined aggregate, sums (not points) cross the wire;
    // slope/intercept/r2 are one fixed double expression tree both engines
    // replay bit-for-bit
    "q183_grouped_ols" -> ((s, dir) =>
      graft.ext.RegressionOps.olsByGroup(t(s, dir, "lineitem"),
        "l_returnflag", "l_quantity", "l_extendedprice")),
    // daily VWAP (volume-weighted average price): exact decimal
    // sum-of-products, one IEEE division at the end
    "q184_vwap" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_shipdate").cast("date").as("ship_day"))
        .agg(count(lit(1)).as("n"),
          sum(dec("l_quantity")).cast("double").as("volume"),
          (sum(dec("l_extendedprice") * dec("l_quantity")).cast("double") /
            sum(dec("l_quantity")).cast("double")).as("vwap"))),
    // pairwise Pearson correlation of hourly event-type volumes over the
    // DENSIFIED (bucket x type) count matrix — integer sums, one fixed
    // double expression; all post-agg relations are matrix-sized, never
    // the log
    "q185_type_correlation" -> ((s, dir) =>
      graft.ext.RegressionOps.countCorrelation(t(s, dir, "events"),
        expr("ts div 3600000000000"), "event_type")),
    // CDC change-feed apply: orders replayed as a keyed change stream per
    // customer (finalized status = tombstone); highest (date, orderkey)
    // wins, dead keys vanish — merge-on-read compaction as one plan
    "q186_cdc_apply" -> ((s, dir) => {
      val changes = t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("o_orderdate"),
        when(col("o_orderstatus") === "F", "D").otherwise("U").as("op"))
      graft.operators.Ingest.cdcApply(changes, Seq("o_custkey"),
          Seq(col("o_orderdate"), col("o_orderkey")), "op")
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice"), col("op"))
    }),
    // inverted-index keyword search: build token -> sorted postings once
    // (stopword-capped so no posting list melts a reducer), answer the
    // conjunctive query from |terms| index rows — the corpus is scanned at
    // BUILD time only; the oracle replays the search as a direct scan,
    // proving index-vs-scan identity
    "q187_keyword_search" -> ((s, dir) => {
      val idx = graft.ext.SearchOps.buildInvertedIndex(
        t(s, dir, "documents"), "doc_id", "text")
      graft.ext.SearchOps.searchAnd(idx, Seq("vector", "hash", "stream"))
    }),
    // Jaro / Jaro-Winkler record-linkage scores as codegen expressions,
    // rapidfuzz-order arithmetic => bit-identical to DuckDB's built-ins;
    // scored against a deterministic vowel-rotated variant of each name
    "q188_jaro_linkage" -> ((s, dir) => {
      import org.apache.spark.sql.graft.JaroFunctions._
      val v = translate(col("c_name"), "aeiou", "eioua")
      t(s, dir, "customer").select(col("c_custkey"),
        jaro_similarity(col("c_name"), v).as("jaro"),
        jaro_winkler_similarity(col("c_name"), v).as("jw"))
    }),
    // streaming CDC snapshot: the change feed replays over 3 micro-batches;
    // per-key struct-max state (O(keys), order-free) → final snapshot equals
    // batch cdcApply exactly, so this shares q186's oracle verbatim
    "q189_stream_cdc" -> ((s, dir) => StreamGate.cdcSnapshot(s, dir)),
    // streaming quantile monitor: per-type DDSketch merged across
    // micro-batches (bit-identical to the batch sketch), contract-pinned
    // against batch-exact percentiles after the drain
    "q190_stream_quantiles" -> ((s, dir) => StreamGate.quantileMonitor(s, dir)),
    // multi-source BFS: exact hop distance from the nearest seed over the
    // q152 citation graph (seeds = doc_id % 97 == 0), 6 synchronous
    // frontier rounds — each round joins only the FRONTIER to the edge
    // list; integer distances make all 6 rounds DuckDB-replayable as
    // chained CTEs (the pageRank/labelProp discipline)
    "q191_bfs_distances" -> ((s, dir) => {
      val nodes = t(s, dir, "documents").select(col("doc_id").as("node"))
      val edges = nodes.crossJoin(nodes.agg(count(lit(1)).as("n")))
        .select(col("node").as("src"), col("n"))
        .select(col("src"), col("n"),
          explode(expr("sequence(1, 1 + src % 4)")).as("j"))
        .select(col("src"), expr("(src * (src + 3) + j * 97) % n").as("dst"))
      val seeds = nodes.filter(col("node") % 97 === 0)
      graft.ext.GraphOps.bfsDistances(seeds, edges, rounds = 6)
        .select(col("node").as("doc_id"), col("dist"))
    }),
    // per-group weighted median: duplication-aware center (weight =
    // integral l_quantity) from ONE distributed prefix scan over the
    // (group, value) total order — no per-group window sort; integer
    // cumulative-weight comparisons, so the pick is bit-exact
    "q192_weighted_median" -> ((s, dir) =>
      graft.operators.RobustStats.weightedMedianByGroup(
        t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice", "l_quantity")),
    // pairwise association rules over order baskets at brand granularity:
    // distinct (basket, item) first, triangular self-join on the basket
    // key, broadcast support joins; confidence/lift are single IEEE
    // divisions of exact longs — bit-reproducible
    "q193_assoc_rules" -> ((s, dir) => {
      val baskets = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        .join(broadcast(t(s, dir, "part").select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("basket"), col("p_brand").as("item"))
      graft.ext.MarketBasket.pairRules(baskets, "basket", "item", minPairSupport = 20)
    }),
    // consecutive event-type trigram mining: two leads over ONE per-user
    // window sort, pattern-space count agg, broadcast total — the
    // order-2 generalization of q178's transition matrix
    "q194_event_trigrams" -> ((s, dir) =>
      graft.ext.EventAnalytics.sequencePatterns(
        t(s, dir, "events"), "user_id", "ts", "event_type", "event_id", n = 3)),
    // sentence segmentation + per-doc sentence stats: corpus text carries
    // no punctuation, so boundaries are injected deterministically (the
    // q165/q171 fixture discipline — same replace chain in the oracle);
    // scan-fused split + array HOFs, no explode, one IEEE division
    "q195_sentence_stats" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("stext",
          regexp_replace(regexp_replace(col("text"), " the ", ". "), " data ", "! "))
      TextStats.sentenceStats(docs, "stext")
        .select(col("doc_id"), col("n_sentences"), col("n_sent_words"),
          col("max_sent_words"), col("mean_sent_words"))
    }),
    // systematic 1-in-20 sampling over the portable md5 rank order —
    // layout-independent, replayable by any engine with md5 (the q13/q14
    // portable-sampler family); ONE GlobalRank range sort, no window
    "q196_systematic_sample" -> ((s, dir) =>
      graft.operators.Sampler.systematicByHexRank(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        step = 20,
        md5(concat(lit("graft196:"), col("o_orderkey").cast("string")).cast("binary")))),
    // file-skipping index scan: orders rewritten range-clustered on
    // o_totalprice (8 files), per-file min/max footer index built
    // DISTRIBUTED, then a range scan reads ONLY intersecting files —
    // result provably equals the plain filtered scan (the oracle)
    "q197_file_skip_scan" -> ((s, dir) => {
      val out = graft.io.TempDirs.create("graft_fileskip").toString
      t(s, dir, "orders")
        .repartitionByRange(8, col("o_totalprice"))
        .write.mode("overwrite").parquet(out)
      graft.io.ParquetIO.prunedRead(s, out, "o_totalprice", 50000.0, 100000.0)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(15,2)")).cast("double").as("sum_price"))
    }),
    // chi-square contingency cells (order priority x status): integer
    // marginals from the |A|x|B| cell table, exact DECIMAL(38) squared
    // numerator canonicalized through a string cast, ONE division per
    // cell — bit-reproducible
    "q198_chi2_cells" -> ((s, dir) =>
      graft.ext.RegressionOps.chiSquareCells(
        t(s, dir, "orders"), "o_orderpriority", "o_orderstatus")),
    // Welch's unequal-variance t per event type between even/odd user
    // cohorts (the per-segment A/B test): exact integer-cents sufficient
    // statistics, one fixed IEEE expression tree per group
    "q199_welch_ttest" -> ((s, dir) =>
      graft.ext.RegressionOps.welchTTest(
        t(s, dir, "events").withColumn("cohort", (col("user_id") % 2).cast("string")),
        "event_type", "cohort", "value", "0", "1")),
    // time-weighted average value per user: LEAD durations as weights,
    // DECIMAL(38) exact cents-nanos products (a long would overflow),
    // string-canonicalized double conversion, one division
    "q200_twap" -> ((s, dir) =>
      graft.ext.EventAnalytics.timeWeightedAverage(
        t(s, dir, "events"), "user_id", "ts", "value", "event_id")),
    // top user journeys: first-5-event type paths, deterministic order
    // (ties on event_id), path-space bounded by |types|^5
    "q201_top_paths" -> ((s, dir) =>
      graft.ext.EventAnalytics.topPaths(
        t(s, dir, "events"), "user_id", "ts", "event_type", "event_id",
        maxEvents = 5)),
    // rolling 7-day distinct actives (the WAU curve): bounded 7x explode
    // of the collapsed (day, user) activity — no log self-join, no
    // distinct-over-range window (which SQL can't even express)
    "q202_rolling_actives" -> ((s, dir) =>
      graft.ext.EventAnalytics.rollingDistinctUsers(
        t(s, dir, "events"), "user_id", "ts", windowDays = 7)),
    // two-sample KS statistic per return flag (even vs odd orders):
    // BOTH cumulative side counts from ONE multi-column distributed
    // prefix scan; cross-multiplied integer gaps, one final division
    "q203_ks_test" -> ((s, dir) =>
      graft.ext.RegressionOps.ksTest(
        t(s, dir, "lineitem").withColumn("cohort", (col("l_orderkey") % 2).cast("string")),
        "l_returnflag", "cohort", "l_extendedprice", "0", "1")),
    // Mann-Whitney U / exact ROC AUC per return flag (even vs odd
    // orders): doubled midranks from ONE multi-column prefix scan keep
    // everything integer; AUC is one division of exact longs. The
    // operator keeps r2_a as an exact DECIMAL(38,0); the gate contract
    // emits it string-canonicalized to DOUBLE (exact below 2^53 — every
    // gate SF qualifies) so parquet decimal canonicalization can never
    // diverge between engine and oracle hashers.
    "q205_mann_whitney" -> ((s, dir) =>
      graft.ext.RegressionOps.mannWhitneyAuc(
        t(s, dir, "lineitem").withColumn("cohort", (col("l_orderkey") % 2).cast("string")),
        "l_returnflag", "cohort", "l_extendedprice", "0", "1")
        .withColumn("r2_a", col("r2_a").cast("string").cast("double"))),
    // CUSUM change-point over per-type hourly volumes: scaled integer
    // cumulative sums peak at the most likely level shift; windows run
    // over the |types| x |hours| matrix, never the log
    "q206_cusum_changepoint" -> ((s, dir) =>
      graft.ext.EventAnalytics.cusumChangePoint(
        t(s, dir, "events"), "ts", "event_type", bucketNanos = 3600000000000L)),
    // Benford leading-digit audit of order totals: digit from the exact
    // integer-cents STRING (double formatting is engine-specific),
    // shared literal expectations, fixed-tree contributions
    "q207_benford_digits" -> ((s, dir) =>
      graft.ext.Expectations.leadingDigitProfile(t(s, dir, "orders"), "o_totalprice")),
    // deflate compression-ratio quality signal (Gopher): zlib isn't SQL-
    // reproducible => rows-only; CorpusFiltersSpec pins bounds,
    // repetition monotonicity, and layout independence
    "q208_compression_ratio" -> ((s, dir) =>
      graft.ext.CorpusFilters.compressionStats(
        t(s, dir, "documents"), "doc_id", "text")),
    // per-group quantile vector (p25/p50/p75/p90/p99 in ONE GlobalRank
    // total order — the summary-table pass, no per-group window sort)
    "q209_group_quantiles" -> ((s, dir) =>
      graft.operators.RobustStats.groupQuantiles(
        t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
        Seq(25, 50, 75, 90, 99))),
    // Tukey boxplot fences + exact outlier counts per group: quartiles
    // from one total order, fixed-tree fence arithmetic, broadcast join
    "q210_tukey_fences" -> ((s, dir) =>
      graft.operators.RobustStats.tukeyFences(
        t(s, dir, "orders"), "o_orderpriority", "o_totalprice")),
    // conversion-latency percentiles: first view -> first subsequent
    // purchase per user (integer nanos), then exact global p50/p90/p99
    // through the same quantile machinery — operators composing
    "q211_conversion_latency" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val firstView = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("tv"))
      val lat = ev.filter(col("event_type") === "purchase")
        .join(firstView, "user_id")
        .filter(col("ts") >= col("tv"))
        .groupBy(col("user_id")).agg(min(col("ts") - col("tv")).as("latency_ns"))
        .withColumn("g", lit("all"))
      graft.operators.RobustStats.groupQuantiles(lat, "g", "latency_ns", Seq(50, 90, 99))
        .select(col("n"), col("p50"), col("p90"), col("p99"))
    }),
    // streaming rolling actives: HLL distinct state per day across
    // micro-batches (exact per-day user sets would be unbounded state);
    // exact counts ride the batch hash oracle, the sketch pins its ±5%
    // contract — the q145 discipline, live on a stream
    "q212_stream_actives" -> ((s, dir) => StreamGate.rollingActives(s, dir)),
    // entity resolution: Jaro-Winkler linkage over a synthetic "account
    // name" fixture (md5-derived 10-char names; every group of 4 ids
    // carries tail-edit variants of one base — append, replace, swap —
    // so within-group jw >= ~0.95 and cross-group jw is random-hex low).
    // Blocks = first 2 name chars: 256 balanced blocks, tail edits never
    // leave the block; the codegen JW verify fuses into the block-join
    // probe, clusters via the q46 CC machinery
    "q213_entity_clusters" -> ((s, dir) =>
      graft.ext.Dedup.jaroWinklerClusters(
        t(s, dir, "documents").select(col("doc_id"),
          expr(entityNameFixtureSql).as("acct_name")),
        "doc_id", "acct_name",
        substring(col("acct_name"), 1, 2), threshold = 0.9)
        .select(col("id").as("doc_id"), col("cluster_id"))),
    // percent-rank normalization table: SQL PERCENT_RANK() per distinct
    // (group, value) from one prefix scan — rank-normalized features
    // with no per-group window sort; one division of exact longs
    "q214_percent_rank" -> ((s, dir) =>
      graft.operators.RobustStats.percentRankTable(
        t(s, dir, "lineitem"), "l_returnflag", "l_quantity")),
    // Spearman rank correlation per return flag: midrank tables from two
    // prefix scans, decimal-exact rank moments, the fixed Pearson tree
    "q215_spearman" -> ((s, dir) =>
      graft.ext.RegressionOps.spearmanByGroup(
        t(s, dir, "lineitem"), "l_returnflag", "l_quantity", "l_extendedprice")),
    // burst / rate-limit detection: max events in any trailing 1h window
    // per user (RANGE frame, per-user bounded), flag heavy hitters
    "q216_burst_flags" -> ((s, dir) =>
      graft.ext.EventAnalytics.burstFlags(
        t(s, dir, "events"), "user_id", "ts",
        windowNanos = 3600000000000L, threshold = 10L)),
    // URL-keyed dedup (the C4 canonical-page pass): q165's normalization
    // chain -> min-id representative per normalized URL -> per-domain
    // accounting; composes the codegen chain with exact dedup
    "q217_url_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
        .withColumn("url", expr(urlFixtureSql))
      val kept = docs.withColumn("norm_url", TextStats.urlNormalize(col("url")))
        .groupBy(col("norm_url"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      kept.withColumn("domain", TextStats.urlDomain(col("norm_url")))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_pages"), sum(col("n_dups")).as("n_raw"),
          min(col("keep_id")).as("first_keep_id"))
    }),
    // corpus-mix diversity (Gini impurity per source over languages):
    // rational in exact counts — bit-reproducible where entropy is
    // libm luck
    "q218_gini_mix" -> ((s, dir) =>
      graft.ext.CorpusFilters.giniMixReport(
        t(s, dir, "documents"), "source", "lang")),
    // pairwise covariance matrix over lineitem's four numeric columns:
    // ONE single-row aggregation of exact integer-cents moments, fixed
    // IEEE combination tree, explode to (col_a, col_b, n, cov) rows
    "q219_covariance_matrix" -> ((s, dir) =>
      graft.ext.RegressionOps.covarianceMatrixCents(
        t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),
    // the TPC-H Q5 shape: six-table star join (region-filtered local
    // supplier revenue) — every dim side broadcast, decimal-exact
    // revenue; the classic warehouse query as a gate headline
    "q220_star_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(su), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_items"),
          sum(dec("l_extendedprice") * (lit(1).cast("decimal(15,2)") - dec("l_discount")))
            .cast("double").as("revenue"))
    }),
    // referential-integrity audit: orphan counts per FK relationship via
    // keys-only LEFT ANTI joins — the lakehouse consistency check
    "q221_ref_integrity" -> ((s, dir) => {
      def audit(rel: String, child: DataFrame, childKey: String,
          parent: DataFrame, parentKey: String): DataFrame = {
        val orphans = child.select(col(childKey))
          .join(parent.select(col(parentKey).as(childKey)), Seq(childKey), "left_anti")
        child.agg(count(lit(1)).as("n_child"))
          .crossJoin(orphans.agg(count(lit(1)).as("n_orphans")))
          .select(lit(rel).as("relationship"), col("n_child"), col("n_orphans"))
      }
      audit("lineitem->orders", t(s, dir, "lineitem"), "l_orderkey",
          t(s, dir, "orders"), "o_orderkey")
        .unionByName(audit("lineitem->part", t(s, dir, "lineitem"), "l_partkey",
          t(s, dir, "part"), "p_partkey"))
        .unionByName(audit("lineitem->supplier", t(s, dir, "lineitem"), "l_suppkey",
          t(s, dir, "supplier"), "s_suppkey"))
        .unionByName(audit("orders->customer", t(s, dir, "orders"), "o_custkey",
          t(s, dir, "customer"), "c_custkey"))
    }),
    // streaming corpus-mix diversity: per-(source, lang) counts as
    // complete-mode state (order-free integers => batch-identical under
    // any batching), Gini rollup on the drained cells — shares q218's
    // oracle verbatim
    "q222_stream_gini" -> ((s, dir) => StreamGate.giniMonitor(s, dir)),
    // median imputation: planted NULLs (event_id % 7) fill with the
    // per-type exact median from the GlobalRank order statistics;
    // integer-cents sum keeps the check exact
    "q223_median_impute" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("value", when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
      graft.operators.RobustStats.imputeGroupMedian(ev, "event_type", "value")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("was_imputed"), 1L).otherwise(0L)).as("n_imputed"),
          sum(round(col("value_filled") * 100).cast("long")).as("sum_filled_cents"))
    }),
    // train/test split-leakage audit: md5 hash split x exact near-dup
    // pairs — how many near-duplicate pairs straddle the split boundary
    // (the eval-contamination check a pipeline runs before training)
    "q224_split_leakage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val split = graft.ext.CorpusFilters.hashSplit(docs, "doc_id",
          Seq(("train", 0.9), ("test", 0.1)))
        .select(col("doc_id"), col("split"))
      graft.ext.Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.7)
        .join(split.select(col("doc_id").as("id_a"), col("split").as("sa")), "id_a")
        .join(split.select(col("doc_id").as("id_b"), col("split").as("sb")), "id_b")
        .select(least(col("sa"), col("sb")).as("split_a"),
          greatest(col("sa"), col("sb")).as("split_b"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_pairs"))
    }),
    // term co-occurrence lift/cosine: the SAME pairRules operator over
    // (doc, token) baskets — tokens that travel together far above
    // independence (collocation mining for free from the basket miner)
    "q225_term_cooccurrence" -> ((s, dir) => {
      val items = t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id").as("basket"),
          explode(split(lower(trim(col("text"))), "\\s+")).as("item"))
        .filter(length(col("item")) > 0)
      graft.ext.MarketBasket.pairRules(items, "basket", "item", minPairSupport = 50)
    }),
    // Flesch reading ease over the q195 boundary-injected fixture: exact
    // regex counts + a fixed IEEE tree over shared literals
    "q226_readability" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        .withColumn("stext",
          regexp_replace(regexp_replace(col("text"), " the ", ". "), " data ", "! "))
      TextStats.fleschReadability(docs, "stext")
        .select(col("doc_id"), col("n_sentences"), col("n_words"),
          col("n_syllables"), col("flesch"))
    }),
    // deterministic group mode (most frequent quantity per return flag,
    // ties to the smallest value) — argmax as a struct max, no window
    "q227_group_mode" -> ((s, dir) =>
      graft.operators.RobustStats.modeByGroup(
        t(s, dir, "lineitem"), "l_returnflag", "l_quantity")),
    // per-dimension embedding health stats: dead-dim / scale-drift audit;
    // power-of-two scaling keeps the sums exact and order-independent
    "q228_embedding_dim_stats" -> ((s, dir) =>
      graft.ext.VectorOps.dimStats(t(s, dir, "embeddings"), "embedding")),
    // L2-norm histogram: the normalization audit over the codegen
    // vec_dot norm (bit-identical to list_dot_product — q50 precedent)
    "q229_embedding_norms" -> ((s, dir) =>
      graft.ext.VectorOps.normHistogram(t(s, dir, "embeddings"), "embedding")),
    // join-key skew diagnostic on the q170 synthetic hot key: top-10
    // hottest keys + the table-wide skew ratio (the salt-count signal)
    "q230_key_skew" -> ((s, dir) =>
      graft.operators.SkewJoin.keySkewReport(
        t(s, dir, "lineitem").select(
          expr("CASE WHEN l_orderkey % 3 = 0 THEN 1 ELSE l_suppkey END").as("s_suppkey")),
        "s_suppkey", topK = 10)),
    // quantile normalization: each return flag's price distribution maps
    // onto the global one (100-bin resolution) — in-group ECDF from one
    // prefix scan, global targets from one GlobalRank pass, broadcast
    // lookups; the batch-effect correction as a mapping table
    "q231_quantile_normalize" -> ((s, dir) =>
      graft.operators.RobustStats.quantileNormalizeTable(
        t(s, dir, "lineitem").select(col("l_returnflag"), col("l_extendedprice")),
        "l_returnflag", "l_extendedprice", bins = 100)
        .groupBy(col("l_returnflag"), col("pct"))
        .agg(count(lit(1)).as("n_values"),
          sum(col("n_with_value")).as("n_rows"),
          min(col("norm_v")).as("norm_v"),
          min(col("l_extendedprice")).as("min_src"),
          max(col("l_extendedprice")).as("max_src"))),
    // seasonal-naive forecast floor: MAE of "same hour yesterday" per
    // type over hourly volumes — exact integer error sums, one division
    "q232_seasonal_naive" -> ((s, dir) =>
      graft.ext.EventAnalytics.seasonalNaiveError(
        t(s, dir, "events"), "ts", "event_type",
        bucketNanos = 3600000000000L, season = 24)),
    // Wilson 95% CI for the per-user-cohort purchase rate: exact counts,
    // fixed IEEE tree over the shared z literal
    "q233_wilson_ci" -> ((s, dir) =>
      graft.ext.EventAnalytics.wilsonRate(
        t(s, dir, "events"), "event_type", col("value") > 100.0)),
    // streaming OLS monitor: the batch operator runs UNCHANGED on the
    // stream — decimal sufficient statistics are order-free, so the
    // drained slope/intercept/r2 equal batch OLS bit-for-bit (shares
    // q183's oracle verbatim)
    "q234_stream_ols" -> ((s, dir) => StreamGate.olsMonitor(s, dir)),
    // diversity-capped dedup: q46's clusters, keep at most 2 smallest
    // ids per cluster via ONE mergeable bottom-k aggregate (no window,
    // no collect_list — a mega-cluster never funnels through one task)
    "q235_cluster_cap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.7)
      val clusters = Dedup.duplicateClusters(docs.select(col("doc_id")), "doc_id", pairs)
      Dedup.capClusters(clusters, "id", "cluster_id", k = 2)
        .select(col("id").as("doc_id"), col("cluster_id"))
    }),
    // exact join-cardinality preflight: |lineitem x orders| from the
    // key-count tables only — the row join never materializes
    "q236_join_size" -> ((s, dir) =>
      graft.operators.Profiler.joinSizeEstimate(
        t(s, dir, "lineitem"), "l_orderkey", t(s, dir, "orders"), "o_orderkey")),
    // privacy release gate: k-anonymity / l-diversity profile of the
    // customer extract under (nation, segment) quasi-identifiers — one
    // map-side-combined shuffle to the equivalence-class relation
    "q237_k_anonymity" -> ((s, dir) =>
      graft.ext.Privacy.kAnonymityProfile(t(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"), "c_acctbal", k = 8, l = 4)),
    // suppression enforcement + audit summary: rows in sub-k classes drop
    // via a broadcast anti-join; the per-segment kept/suppressed ledger is
    // what the release audit files
    "q238_k_suppression" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val kept = graft.ext.Privacy
        .suppress(cust, Seq("c_nationkey", "c_mktsegment"), k = 8)
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("__n_kept"))
      cust.groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_total"))
        .join(kept, Seq("c_mktsegment"), "left")
        .select(col("c_mktsegment"), col("n_total"),
          coalesce(col("__n_kept"), lit(0L)).as("n_kept"),
          (col("n_total") - coalesce(col("__n_kept"), lit(0L))).as("n_suppressed"))
    }),
    // label-QA agreement: Cohen's kappa between the declared `lang` tag and
    // the q62 heuristic classifier — the chance-corrected scalar read off
    // q122's confusion matrix; exact integer sufficient statistics
    "q239_cohens_kappa" -> ((s, dir) =>
      graft.ext.RegressionOps.cohensKappa(
        TextStats.langId(t(s, dir, "documents"), "text"), "lang", "lang_pred")),
    // hourly-count autocorrelation at calendar lags 1..6: the seasonality
    // detector; the log collapses to |hours| rows, each lag a broadcast
    // self-join on the shifted bucket
    "q240_acf_hourly" -> ((s, dir) =>
      graft.ext.EventAnalytics.acfHourly(t(s, dir, "events"), "ts", maxLag = 6)),
    // source-drift JS divergence: src0 vs src1 unigram distributions.
    // rows-only (libm ln is not bit-portable — the CorpusFilters policy);
    // the integer tallies are exact and the extremes are spec-pinned
    "q241_js_divergence" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ext.CorpusFilters.jsDivergence(
        docs.filter(col("source") === "src0"),
        docs.filter(col("source") === "src1"), "text")
    }),
    // tokenizer-coverage drift: occurrence-weighted OOV rate of the held
    // source against the rest-of-corpus vocabulary; pure counting
    "q242_oov_rate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ext.CorpusFilters.oovRate(
        docs.filter(col("source") =!= "src19"),
        docs.filter(col("source") === "src19"), "text")
    }),
    // exact-proportion stratified split per source: md5-ranked in-stratum
    // cut — proportions exact per stratum where q58's hash split is only
    // exact in expectation
    "q243_stratified_split" -> ((s, dir) =>
      graft.ext.CorpusFilters.stratifiedSplit(
        t(s, dir, "documents"), "doc_id", "source",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .select(col("doc_id"), col("source"), col("split"))),
    // FK discovery: lineitem.l_partkey vs part.p_partkey inclusion — both
    // sides collapse to distinct-key relations before the join
    "q244_fk_inclusion" -> ((s, dir) =>
      graft.operators.Profiler.inclusionCoefficient(
        t(s, dir, "lineitem"), "l_partkey", t(s, dir, "part"), "p_partkey")),
    // functional-dependency check: does nation determine market segment?
    // (no — the violating-group count and max fanout quantify how far off)
    "q245_fd_check" -> ((s, dir) =>
      graft.operators.Profiler.functionalDependency(
        t(s, dir, "customer"), Seq("c_nationkey"), "c_mktsegment")),
    // streaming k-anonymity gate: offline-profiled violating classes
    // enforced on the live feed via broadcast stream-static anti join;
    // oracle = the batch suppression (q238's kept relation, row-exact)
    "q246_stream_privacy_gate" -> ((s, dir) =>
      graft.streaming.StreamGate.privacyGate(s, dir, k = 6)),
    // classical seasonal decomposition: hourly seasonal profile from the
    // even-period centered-MA detrend — integer numerators end to end, one
    // division per season index; windows-free (contribution expansion)
    "q247_seasonal_profile" -> ((s, dir) =>
      graft.ext.EventAnalytics.seasonalProfile(t(s, dir, "events"), "ts", period = 24)),
    // OHLC downsampling: per (event_type, hour) open/high/low/close bars —
    // pure pass-through aggregates (min_by/max_by), one map-side-combinable
    // shuffle, bit-exact oracle
    "q248_ohlc_bars" -> ((s, dir) =>
      graft.ext.EventAnalytics.ohlcBars(
        t(s, dir, "events"), "event_type", "ts", "value", "event_id")),
    // interval-sweep peak concurrency: sessionize (30 min gap) then per-day
    // max of the running +1/-1 boundary sum — decomposed into partitioned
    // hour sweeps + a day-carry expansion, no global window
    "q249_peak_concurrency" -> ((s, dir) =>
      graft.ext.EventAnalytics.peakConcurrency(
        t(s, dir, "events"), "user_id", "ts")),
    // spatial radius join: "suppliers within 30k planar units of each
    // customer" — grid-blocked equi-join (3x3 neighbor fan-out on the
    // small side), exact integer distance; points derived from keys by
    // multiplicative hashing so both engines replay the arithmetic
    "q250_geo_radius_join" -> ((s, dir) =>
      graft.operators.GeoJoin.radiusJoin(
        geoPoints(t(s, dir, "customer"), "c_custkey", 2654435761L, 1540483477L),
        "c_custkey",
        geoPoints(t(s, dir, "supplier"), "s_suppkey", 2246822519L, 3266489917L),
        "s_suppkey", "lat", "lon", 30000L)),
    // nearest supplier within the radius per customer: argmin via one
    // map-side-combinable min(struct) — no per-customer window sort
    "q251_geo_nearest" -> ((s, dir) =>
      graft.operators.GeoJoin.nearestWithin(
        geoPoints(t(s, dir, "customer"), "c_custkey", 2654435761L, 1540483477L),
        "c_custkey",
        geoPoints(t(s, dir, "supplier"), "s_suppkey", 2246822519L, 3266489917L),
        "s_suppkey", "lat", "lon", 30000L)),
    // exact-phrase query from the positional index: only the phrase
    // terms' postings move; the oracle replays it as a direct scan
    // (normalized token stream LIKE), proving index-vs-scan identity
    "q252_phrase_search" -> ((s, dir) => {
      val idx = graft.ext.SearchOps.buildPositionalIndex(
        t(s, dir, "documents"), "doc_id", "text")
      graft.ext.SearchOps.searchPhrase(idx, Seq("table", "scan"))
    }),
    // incremental index maintenance on the gate: per-parity half-corpus
    // indexes merged token-wise, then the same phrase query — the merge
    // touches only index rows, never the corpus, yet answers identically
    "q253_index_merge_search" -> ((s, dir) => {
      import graft.ext.SearchOps
      val docs = t(s, dir, "documents")
      val a = SearchOps.buildPositionalIndex(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
      val b = SearchOps.buildPositionalIndex(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      SearchOps.searchPhrase(SearchOps.mergeIndex(a, b), Seq("table", "scan"))
    }),
    // CUPED variance-reduced A/B readout: per-user integer metrics (pre
    // window event count, post window floor(value) sum), variant by key
    // parity, pooled theta; two map-side aggs + a broadcast cross
    "q254_cuped" -> ((s, dir) => {
      val day = expr("ts div 86400000000000")
      val units = t(s, dir, "events").groupBy(col("user_id"))
        .agg(sum(when(day < 19738L, 1L).otherwise(0L)).as("pre_events"),
          sum(when(day >= 19738L, floor(col("value"))).otherwise(0L))
            .as("post_value"))
        .withColumn("variant", col("user_id") % 2)
      graft.ext.RegressionOps.cupedAdjust(
        units, "variant", "pre_events", "post_value")
    }),
    // Kaplan-Meier churn risk table: censoring-aware time-to-event counts
    // from one per-user agg; everything after runs on the horizon-bounded
    // duration relation (broadcast theta self-join, no global window)
    "q255_km_survival" -> ((s, dir) =>
      graft.ext.SurvivalOps.kmTable(
        t(s, dir, "events"), "user_id", "ts", churnGapDays = 7L)),
    // Markov removal-effect attribution: transition counts distributed,
    // absorbing-chain conversion probabilities via 40 rounds of integer
    // fixed-point iteration on the channel-bounded matrix — pure integer
    // floor arithmetic, so the DuckDB oracle replays every round as
    // chained CTEs bit-for-bit (the q152 PageRank discipline). The exact
    // double solver (markovAttribution) keeps its closed-form chain specs
    "q256_markov_attribution" -> ((s, dir) =>
      graft.ext.EventAnalytics.markovAttributionFixedPoint(
        t(s, dir, "events"), "user_id", "ts", "event_type",
        convChannel = "purchase", tieCol = "event_id")),
    // materialized-view maintenance: additive agg state over pre-1998
    // orders merged with the later delta's state — must equal the
    // from-scratch aggregation over everything (the oracle); touches
    // |groups| rows, never re-reads history
    "q257_incremental_agg" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .withColumn("__od", col("o_orderdate").cast("date"))
      def aggOf(df: DataFrame) = df.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"))
      graft.operators.Ingest.mergeAggState(
        aggOf(orders.filter(col("__od") < lit("1998-01-01").cast("date"))),
        aggOf(orders.filter(col("__od") >= lit("1998-01-01").cast("date"))),
        Seq("o_orderpriority"))
    }),
    // cohort LTV payback curve over purchase events: integer revenue,
    // per-cohort cumulative window (horizon-bounded frames)
    "q258_cohort_ltv" -> ((s, dir) =>
      graft.ext.EventAnalytics.cohortLtv(
        t(s, dir, "events").filter(col("event_type") === "purchase"),
        "user_id", "ts", floor(col("value")))),
    // mojibake / encoding-corruption scan: replacement chars, cp1252
    // double-encoding artifacts, stray C0 controls — scan-fused counts;
    // the clean corpus pins schema + zero contract (the q65 discipline),
    // crafted-input semantics live in TextStatsSpec
    "q259_mojibake_scan" -> ((s, dir) =>
      graft.ext.TextStats.mojibakeScan(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_replacement"), col("n_mojibake_seq"),
          col("n_c0_control"), col("mojibake_total"))),
    // persistable MinHash index: build over the corpus, save, load, then
    // band-join an ingest batch (every 7th doc re-submitted under a new
    // id, text unchanged -> each batch doc must rematch its source at
    // jaccard 1.0, plus whatever true near-dups LSH surfaces). LSH pair
    // sets are rows-only per the q41 precedent; batch-vs-rebuild identity
    // and round-trip specs carry the semantics
    // build-inclusive MinHash ingest (q268 is the load-only serve
    // sibling): index the corpus, save, reload, probe the resubmit batch.
    // Output is the pinned source contract (hash oracle) — the full LSH
    // pair SET stays spec-level (band recall on 0.8–0.9 near-dups is
    // probabilistic, q41 precedent; the ingest-pairs ≡ rebuild-pairs
    // identity is spec-pinned in DedupSpec)
    "q260_minhash_index_ingest" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs
      val batch = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val path = s"/tmp/graft_q260_idx_${dir.replaceAll("[^0-9a-zA-Z]", "_")}"
      graft.ext.Dedup.buildMinhashIndex(corpus, "doc_id", "text").save(path)
      sourcePairContract(batch,
        graft.ext.Dedup.ingestNearDupPairs(batch, "doc_id", "text",
          graft.ext.Dedup.loadMinhashIndex(s, path), threshold = 0.8))
    }),
    // ingest-admission capstone: hygiene gate -> exact-dup fp anti ->
    // EXACT near-dup (PPJoin jaccard, so the whole pipeline stays on the
    // hash oracle; at 100 TB swap in the q260 MinHash index for candidate
    // generation). Batch = deterministic resubmits / perturbed copies /
    // novel docs derived from the corpus in both engines
    "q261_ingest_pipeline" -> ((s, dir) => {
      import graft.ext.{Dedup, TextStats}
      val docs = t(s, dir, "documents")
      val batch =
        docs.filter(col("doc_id") % 10 === 1)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 10 === 2)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(col("text"), lit(" appended tail marker tokens")).as("text")))
        .unionByName(docs.filter(col("doc_id") % 10 === 3)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            md5(col("doc_id").cast("string").cast("binary")).as("text")))
      val corpusFps = docs
        .select(Dedup.contentFingerprint(col("text")).as("__fp")).distinct()
      val scored = TextStats.mojibakeScan(batch, "text")
        .withColumn("__fp", Dedup.contentFingerprint(col("text")))
        .join(corpusFps.withColumn("__isdup", lit(1L)), Seq("__fp"), "left")
      val crossNear = Dedup.ngramJaccardPairs(
          docs.select(col("doc_id"), col("text")).unionByName(batch),
          "doc_id", "text", n = 3, threshold = 0.5)
        .filter(col("id_a") < 2000000L && col("id_b") >= 2000000L)
        .select(col("id_b").as("doc_id")).distinct()
        .withColumn("__isnear", lit(1L))
      scored.join(crossNear, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("mojibake_total") > 0, "rejected_corrupt")
            .when(col("__isdup").isNotNull, "dup_exact")
            .when(col("__isnear").isNotNull, "dup_near")
            .otherwise("admitted").as("status"))
    }),
    // streaming near-dup admission gate over the static MinHash index:
    // resubmits rejected, md5-novel docs admitted; per-doc decisions
    // against the STATIC index only, so stream == batch under any
    // batching (spec-pinned); LSH keeps it rows-only (q41/q260 precedent)
    "q262_stream_neardup_gate" -> ((s, dir) =>
      graft.streaming.StreamGate.nearDupGate(s, dir)),
    // grid hotspot report: per occupied cell, own count + 3x3 neighborhood
    // total — two hash aggs, points shuffle once
    "q263_geo_hotspots" -> ((s, dir) =>
      graft.operators.GeoJoin.cellHotspots(
        geoPoints(t(s, dir, "customer"), "c_custkey", 2654435761L, 1540483477L),
        "lat", "lon", cellSize = 50000L)),
    // spatial density clustering (DBSCAN-lite, minPts=2): radius pairs as
    // edges -> the q46 connected-components machinery; singletons keep
    // their own id as cluster — pure composition of shipped operators.
    // Radius 5000 keeps the random point graph SUBCRITICAL (expected
    // degree ~1 at sf0.1); past the percolation radius a giant component
    // forms whose diameter is O(box/r) — since round 6 the CC is
    // large-star/small-star (O(log n) rounds regardless of diameter), and
    // the geo_clusters_supercritical scale probe pins recovery at radius
    // 12000 (expected degree ~7–68), where min-label would blow its cap
    "q264_geo_clusters" -> ((s, dir) => {
      val pts = geoPoints(t(s, dir, "customer"), "c_custkey",
        2654435761L, 1540483477L)
      val edges = graft.operators.GeoJoin.radiusJoin(
          pts, "c_custkey",
          pts.select(col("c_custkey").as("other_key"), col("lat"), col("lon")),
          "other_key", "lat", "lon", 5000L)
        .filter(col("c_custkey") < col("other_key"))
        .select(col("c_custkey").as("id_a"), col("other_key").as("id_b"))
      graft.ext.Dedup.duplicateClusters(pts, "c_custkey", edges,
        maxIterations = 50)
        .select(col("id").as("c_custkey"), col("cluster_id"))
    }),
    // retrieval evaluation harness: recall@10 / MRR of an un-normalized
    // dot-product ranking against the exact-cosine truth — both rankings
    // SQL-expressible, so the metric itself rides the hash oracle
    // (LSH/IVF/PQ evaluation uses the same operator in specs)
    "q265_ranking_eval" -> ((s, dir) => {
      import graft.ext.Similarity
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val truth = Similarity.bruteTopK(e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10)
      val scored = e.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("__dv"))
        .crossJoin(broadcast(q.select(col("vec_id").as("query_id"),
          col("embedding").as("__qv"))))
        .withColumn("dot", graft.functions.vec_dot(col("__dv"), col("__qv")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("dot").desc, col("neighbor_id"))
      val cand = scored
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 10)
      Similarity.rankingMetrics(truth, cand,
        "query_id", "neighbor_id", "rank", k = 10)
    }),
    // theta-sketch segment overlap: per-event-type user sketches (one
    // map-side-combined agg, k longs per segment cross the wire) +
    // driver-side pairwise intersection estimates against the exact
    // distinct-join overlap. Below sketch capacity KMV is EXACT, so the
    // estimate column itself rides the hash oracle at gate scale and the
    // capacity contract is the pinned boolean (the q19 discipline);
    // estimation-regime accuracy (k << n) is spec-pinned
    "q266_segment_overlap" -> ((s, dir) => {
      import org.apache.spark.sql.graft.{ThetaBuffer, ThetaFunctions}
      val seg = t(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
      val sketches = seg.groupBy(col("event_type"))
        .agg(ThetaFunctions.theta_sketch_agg(col("user_id"), 4096).as("sk"))
        .collect().map(r => r.getString(0) ->
          ThetaBuffer.deserialize(r.getAs[Array[Byte]](1))).toMap
      val a = seg.select(col("event_type").as("type_a"), col("user_id"))
      val b = seg.select(col("event_type").as("type_b"), col("user_id"))
      val exact = a.join(b, "user_id")
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(countDistinct(col("user_id")).as("exact_overlap"))
      val pairs = sketches.keys.toSeq.sorted.combinations(2).map { case Seq(x, y) =>
        (x, y, ThetaBuffer.intersectionEstimate(sketches(x), sketches(y)),
          sketches(x).theta == 1.0 && sketches(y).theta == 1.0)
      }.toSeq
      import s.implicits._
      exact.join(
        pairs.toDF("type_a", "type_b", "est_overlap", "below_capacity"),
        Seq("type_a", "type_b"))
        .select(col("type_a"), col("type_b"), col("exact_overlap"),
          col("est_overlap"), col("below_capacity"))
    }),
    // bucketed-table join on the gate: both sides written bucketed on the
    // join key (8 buckets, sorted) -> the join is Exchange-free
    // (ParquetIOSpec pins the zero-exchange plan); oracle = the plain join
    "q204_bucketed_join" -> ((s, dir) => {
      import graft.io.ParquetIO
      ParquetIO.writeBucketed(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        "g204_li", Seq("l_orderkey"), 8, sortCols = Seq("l_orderkey"))
      ParquetIO.writeBucketed(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_orderstatus")),
        "g204_o", Seq("o_orderkey"), 8, sortCols = Seq("o_orderkey"))
      s.table("g204_li")
        .join(s.table("g204_o"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          sum(dec("l_extendedprice") * (lit(1).cast("decimal(15,2)") - dec("l_discount")))
            .cast("double").as("revenue"))
    }),

    // serve-path sibling of q135: the IVF-PQ artifacts are staged ONCE
    // per (sf, data fingerprint) and the benched query only LOADS and
    // probes — min-of-3 bench passes measure the probe/ADC/rerank cost
    // the build-once/probe-many artifacts exist for. Recall contract vs
    // brute is q135's, verbatim.
    "q267_ivfpq_serve" -> ((s, dir) => {
      import graft.ext.Similarity
      val e = t(s, dir, "embeddings")
        .withColumn("embedding", Similarity.l2normalized(col("embedding")))
      val q = e.filter(col("vec_id") < 5)
      val base = ensureServeArtifact("ivfpq", dir, "embeddings") { p =>
        val (bIvf, bPq) = Similarity.buildIvfPq(e, "vec_id", "embedding",
          Similarity.IvfConfig(nlist = 32, nprobe = 16),
          Similarity.PqConfig(m = 8, ksub = 32))
        bIvf.save(s"$p/ivf"); bPq.save(s"$p/pq")
      }
      val ivf = Similarity.loadIvfIndex(s, s"$base/ivf")
      val pq = Similarity.loadPqIndex(s, s"$base/pq")
      val approx = Similarity.searchIvfPq(ivf, pq, e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10, nprobe = 16, rerank = 300)
      val brute = Similarity.bruteTopK(e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10)
      val hits = approx.join(brute.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("__n_hit"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("__n_hit"), lit(0L)) >= 5L).as("recall_ok"))
    }),

    // serve-path sibling of q260: the MinHash band/base tables are staged
    // ONCE and the benched query only loads them and probes the resubmit
    // batch — same pinned source contract (hash oracle)
    "q268_minhash_serve" -> ((s, dir) => {
      import graft.ext.Dedup
      val docs = t(s, dir, "documents")
      val batch = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val base = ensureServeArtifact("minhash", dir, "documents") { p =>
        Dedup.buildMinhashIndex(docs, "doc_id", "text").save(s"$p/idx")
      }
      sourcePairContract(batch,
        Dedup.ingestNearDupPairs(batch, "doc_id", "text",
          Dedup.loadMinhashIndex(s, s"$base/idx"), threshold = 0.8))
    }),

    // RAG-style word-window chunking with overlap: the retrieval/embedding
    // prep step (chunk 64 words, stride 48); the chunk STRINGS themselves
    // ride the hash oracle — pure integer windows + space joins
    "q269_doc_chunks" -> ((s, dir) =>
      graft.ext.TextStats.chunkWords(t(s, dir, "documents"),
        "doc_id", "text", width = 64, overlap = 16)),

    // ---- REAL compressed-audio decode: ITU-T G.711 companding ----------
    // even ids mu-law / odd ids A-law (format mix like q70); the payloads
    // are genuine 8-bit G.711 WAVs the decoder must expand to int16 —
    // DuckDB re-expands the same closed-form code bytes with the public
    // segment formulas, so a companding bug breaks the hash-compare
    "q270_g711_decode_stats" -> ((s, dir) =>
      Multimodal.wavStats(
        Multimodal.attachSyntheticG711Wav(
          t(s, dir, "documents").select(col("doc_id")), "doc_id",
          sampleRate = 8000, nSamples = 800),
        "wav")
        .select(col("doc_id"), col("codec"), col("sample_rate"), col("n_samples"),
          col("duration_s"), col("mean_amp"), col("rms_amp"))),

    // ---- REAL compressed-audio decode #2: IMA ADPCM (4 bits/sample) ----
    // a genuinely STATEFUL codec (adaptive step-size prediction); the
    // oracle replays the (predictor, stepIndex) state machine as a
    // recursive CTE — aggregates AND the final decoded sample must match
    "q271_adpcm_decode" -> ((s, dir) =>
      Multimodal.adpcmStats(
        Multimodal.attachSyntheticAdpcm(
          t(s, dir, "documents").select(col("doc_id")), "doc_id", nSamples = 240),
        "adpcm", nSamples = 240)
        .select(col("doc_id"), col("n_samples"), col("sum_amp"),
          col("energy"), col("last_sample"))),

    // ---- REAL compressed-video decode: MJPEG-in-AVI --------------------
    // RIFF 'AVI ' container walk + per-frame JDK ImageIO JPEG decode;
    // scene structure (bright/cut counts over a planted 160-level gap) is
    // lossy-robust, so the decisions replay as exact integers in SQL
    "q272_mjpeg_scene_stats" -> ((s, dir) =>
      Multimodal.aviSceneStats(
        Multimodal.attachSyntheticMjpegAvi(
          t(s, dir, "documents").select(col("doc_id")).filter(col("doc_id") % 7 === 3),
          "doc_id", nScenes = 4, framesPerScene = 3, w = 16, h = 12),
        "avi")
        .select(col("doc_id"), col("n_frames"), col("width"), col("height"),
          col("n_bright"), col("n_cuts"), col("first_cut"))),

    // graded nDCG@10 of the un-normalized dot ranking vs the cosine truth
    // (q265's sibling): relevance grades derive from the truth rank, the
    // log2 rank discount rides the pinned integer weight table, so scaled
    // DCG is an exact integer dot product the oracle replays verbatim
    "q273_ndcg_eval" -> ((s, dir) => {
      import graft.ext.Similarity
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val truth = Similarity.bruteTopK(e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10)
        .withColumn("rel", expr("(11 - rank) div 3"))
      val scored = e.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("__dv"))
        .crossJoin(broadcast(q.select(col("vec_id").as("query_id"),
          col("embedding").as("__qv"))))
        .withColumn("dot", graft.functions.vec_dot(col("__dv"), col("__qv")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("dot").desc, col("neighbor_id"))
      val cand = scored
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 10)
      Similarity.ndcgAtK(truth, cand,
        "query_id", "neighbor_id", "rank", "rel", k = 10)
    }),

    // keyed pseudonymization: direct identifiers -> salted SHA-256 tokens
    // (deterministic, referential-integrity-preserving); DuckDB recomputes
    // the exact same hex digests, so the whole token relation hash-checks
    "q274_pseudonymize" -> ((s, dir) =>
      graft.ext.Privacy.pseudonymize(
        t(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"),
            concat(lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]+", ".")),
              lit("@example.com")).as("c_email"),
            col("c_nationkey")),
        Seq("c_name", "c_email"), salt = "graft-release-1")),

    // Holt linear-trend smoothing of daily event volumes: the recurrence
    // runs strictly in series order per key, so every double is a
    // deterministic IEEE evaluation the oracle's recursive CTE replays
    // bit-for-bit (no libm, no reordered float sums)
    "q275_holt_forecast" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("event_type"), expr("ts div 86400000000000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      graft.ext.EventAnalytics.holtForecast(
        daily, "event_type", "day", "n", alpha = 0.5, gamma = 0.5, horizon = 7)
    }),

    // CCNet-style cross-corpus perplexity: bigram LM trained on even docs,
    // odd docs scored against it (rows-only: libm ln is not bit-portable;
    // separation and hand-computed values are spec-pinned)
    "q276_perplexity_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ext.CorpusFilters.perplexityScore(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text")
    }),

    // GPT-style context packing: concat-and-chunk placement of every doc
    // into fixed 512-token training contexts via the distributed prefix
    // scan (GlobalRank — no global window); the oracle replays the same
    // integer arithmetic over a window prefix sum at gate scale
    "q277_context_pack" -> ((s, dir) =>
      graft.ext.CorpusFilters.contextPack(
        TextStats.withTokenCounts(t(s, dir, "documents"), "text")
          .select(col("doc_id"), col("ws_tokens")),
        "doc_id", "ws_tokens", contextLen = 512)),

    // DSIR importance weights: raw docs scored by hashed-ngram likelihood
    // ratio against a target domain (even docs with high digit share act
    // as the planted "domain"); rows-only (libm ln) + separation specs
    "q278_dsir_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ext.CorpusFilters.dsirWeights(
        docs.filter(col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text", buckets = 4096)
    }),

    // pitch/periodicity detection: integer autocorrelation over decoded
    // PCM (exact sums, no FFT) — the oracle recomputes every lag's
    // correlation from the planted-period formula and must agree on the
    // argmax, the correlations, AND the final score
    "q279_audio_periodicity" -> ((s, dir) =>
      Multimodal.audioPeriodicity(
        Multimodal.attachSyntheticPeriodicWav(
          t(s, dir, "documents").select(col("doc_id")), "doc_id",
          sampleRate = 8000, nSamples = 400),
        "wav", minLag = 10, maxLag = 35)
        .select(col("doc_id"), col("best_lag"), col("r_best"),
          col("r_zero"), col("periodicity"))),

    // rolling-origin Holt backtest: fit on all but the last 5 days, emit
    // per-held-out-step forecast/actual/sMAPE rows — every value a fixed
    // IEEE expression of the recurrence, replayed by the oracle's
    // recursive CTE over the TRAIN prefix (no unordered float means)
    "q280_holt_backtest" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(col("event_type"), expr("ts div 86400000000000").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      graft.ext.EventAnalytics.holtBacktest(
        daily, "event_type", "day", "n", alpha = 0.5, gamma = 0.5, horizon = 5)
    }),

    // epsilon-DP Laplace release: deterministic md5-seeded draws (the q13
    // portable-hash discipline) on a grouped count release; rows-only
    // (libm ln) with determinism/scale/epsilon-scaling specs
    "q281_dp_release" -> ((s, dir) =>
      graft.ext.Privacy.withLaplaceNoise(
        t(s, dir, "orders").groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders")),
        "n_orders", Seq("o_orderpriority"),
        epsilon = 0.5, sensitivity = 1.0, seed = "release-2026-08")),

    // the G.711 CODEGEN-EXPRESSION path (vs q270's container decode):
    // code bytes sliced straight out of the RIFF data chunk with binary
    // substring, expanded by the g711_expand Catalyst expression, reduced
    // by array HOFs — whole-stage-codegen end to end, same closed-form
    // oracle discipline as q270
    "q283_g711_sql_expand" -> ((s, dir) => {
      import org.apache.spark.sql.graft.G711Functions.g711_expand
      val wavs = Multimodal.attachSyntheticG711Wav(
        t(s, dir, "documents").select(col("doc_id")), "doc_id",
        sampleRate = 8000, nSamples = 800)
      val codes = wavs.withColumn("__codes", expr("substring(wav, 45, 800)"))
      codes.withColumn("samples",
          when(col("doc_id") % 2 === 0, g711_expand(col("__codes"), "mulaw"))
            .otherwise(g711_expand(col("__codes"), "alaw")))
        .select(col("doc_id"),
          size(col("samples")).cast("long").as("n_samples"),
          aggregate(col("samples"), lit(0L), (a, x) => a + x.cast("long")).as("sum_amp"),
          aggregate(col("samples"), lit(0L),
            (a, x) => a + x.cast("long") * x.cast("long")).as("energy"))
    }),

    // privacy release capstone: k-anonymity suppression -> keyed
    // pseudonymization -> class-level release, end to end; the released
    // relation (incl. an actual token per class) hash-checks against
    // DuckDB's replay of the whole chain
    "q282_privacy_release" -> ((s, dir) => {
      import graft.ext.Privacy
      val safe = Privacy.suppress(
        t(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"), k = 3)
      Privacy.pseudonymize(safe, Seq("c_name"), salt = "graft-release-1")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("c_name")).as("n_tokens"),
          min(col("c_name")).as("sample_token"))
    }),

    // EXACT audience-overlap matrix via the Roaring-style membership
    // bitmap (the exact tier under q266's theta sketch): one shuffle to
    // the |segments|-row bitmap relation, then a BROADCAST self-pair over
    // that tiny relation — the fact table is scanned once and never
    // self-joins (q266's exact arm joins the deduped fact table against
    // itself; here every cardinality comes out of the bitmaps)
    "q284_bitmap_segments" -> ((s, dir) => {
      import org.apache.spark.sql.graft.BitmapFunctions._
      val seg = t(s, dir, "events")
        .groupBy(col("event_type")).agg(bitmap_agg(col("user_id")).as("bm"))
      val a = seg.select(col("event_type").as("seg_a"), col("bm").as("bm_a"))
      val b = seg.select(col("event_type").as("seg_b"), col("bm").as("bm_b"))
      a.join(broadcast(b), col("seg_a") < col("seg_b"))
        .select(col("seg_a"), col("seg_b"),
          bitmap_count(col("bm_a")).as("card_a"),
          bitmap_count(col("bm_b")).as("card_b"),
          bitmap_and_count(col("bm_a"), col("bm_b")).as("and_count"),
          bitmap_or_count(col("bm_a"), col("bm_b")).as("or_count"),
          bitmap_andnot_count(col("bm_a"), col("bm_b")).as("andnot_count"))
    }),

    // Pareto frontier (skyline, Börzsönyi ICDE'01): lineitems no other
    // lineitem beats on BOTH price and discount. Two-phase local-skyline
    // + broadcast-candidate refine — no self-join of the fact table; the
    // oracle replays dominance by the O(n log n) 2-d window formulation
    // (cummax of the per-price discount maxima), NOT a quadratic NOT
    // EXISTS, so it stays cheap at every SF
    "q285_skyline_frontier" -> ((s, dir) =>
      graft.operators.Skyline.skyline(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"), col("l_discount")),
        Seq("l_extendedprice", "l_discount"))),

    // per-group frontier — the curation shape ("per language: the
    // quality/length frontier"): within each return flag, the
    // quantity/price Pareto set; groups co-locate on one shuffle and
    // never interact
    "q287_skyline_pergroup" -> ((s, dir) =>
      graft.operators.Skyline.skylinePerGroup(
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity"), col("l_extendedprice")),
        Seq("l_returnflag"), Seq("l_quantity", "l_extendedprice"))),

    // golden-record survivorship capstone: q213's Jaro-Winkler entity
    // clusters collapse to ONE merged record each — majority lang/source,
    // longest text, max n_chars, min doc_id as the representative id —
    // every rule deterministic (ties break on the value), so the whole
    // chain (blocking -> JW pairs -> connected components -> survivorship)
    // hash-checks against DuckDB end to end
    "q286_golden_records" -> ((s, dir) => {
      import graft.ext.Survivorship._
      val named = t(s, dir, "documents")
        .select(col("doc_id"), expr(entityNameFixtureSql).as("acct_name"),
          col("lang"), col("source"), col("text"), col("n_chars"))
      val clusters = graft.ext.Dedup.jaroWinklerClusters(
        named.select(col("doc_id"), col("acct_name")),
        "doc_id", "acct_name", substring(col("acct_name"), 1, 2), threshold = 0.9)
      val recs = named.join(
        clusters.select(col("id").as("doc_id"), col("cluster_id")), "doc_id")
      goldenRecords(recs, "cluster_id", Seq(
        MinOf("doc_id", "rep_id"),
        MostFrequent("lang"),
        MostFrequent("source"),
        Longest("text"),
        MaxOf("n_chars", "max_chars")))
    }),

    // materialized-rollup rewrite on the optimizer hook: the query below
    // is written against the FACT table, but the registered rollup
    // re-roots the (optimized) Aggregate onto the |dims|-row summary —
    // PlanSpec pins that the executed scan reads the rollup path, and the
    // oracle replays the query against the raw fact, so a wrong rewrite
    // hash-fails. The fact is a q288-PRIVATE staged copy: registering on
    // the shared lineitem path would silently re-root other gate queries'
    // aggregates (correct but plan-contaminating)
    "q288_rollup_rewrite" -> ((s, dir) => {
      import org.apache.spark.sql.graft.MaterializedRollup
      val base = ensureServeArtifact("rollupfact", dir, "lineitem") { p =>
        graft.io.ParquetIO.read(s, s"$dir/lineitem.parquet")
          .select(col("l_returnflag"), col("l_linestatus"),
            col("l_quantity"), col("l_extendedprice"))
          .write.parquet(s"$p/fact")
      }
      MaterializedRollup.create(s, s"$base/fact", s"$base/rollup",
        Seq("l_returnflag", "l_linestatus"),
        Seq("qty" -> dec("l_quantity"), "price" -> dec("l_extendedprice")))
      graft.io.ParquetIO.read(s, s"$base/fact")
        .filter(col("l_linestatus") === lit("F"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(dec("l_quantity")).cast("double").as("sum_qty"),
          min(dec("l_extendedprice")).cast("double").as("min_price"),
          max(dec("l_extendedprice")).cast("double").as("max_price"))
    }),

    // deterministic Poisson-bootstrap CI of the per-segment mean balance:
    // every resample weight comes from a pinned hex-threshold compare on
    // md5(seed:id:b), so DuckDB replays the FULL resampling distribution
    // and the percentile bounds bit-for-bit — a bootstrap you can audit
    "q289_bootstrap_ci" -> ((s, dir) =>
      graft.ext.Bootstrap.bootstrapMeanCi(
        t(s, dir, "customer")
          .withColumn("cents", round(col("c_acctbal") * 100).cast("long")),
        Seq("c_mktsegment"), "c_custkey", "cents",
        resamples = 200, seed = "graft-bs-1")),

    // frame-parallel scene stats (the LONG-clip 100 TB shape): container
    // walk explodes to per-frame rows, compressed frames hash-spread and
    // decode in independent tasks, scene logic reassembles via a per-clip
    // window — values identical to q272's whole-clip-per-task sibling,
    // proven here on a longer-clip fixture (5 scenes x 2 frames)
    "q290_mjpeg_frame_split" -> ((s, dir) =>
      Multimodal.aviSceneStatsFrameSplit(
        Multimodal.attachSyntheticMjpegAvi(
          t(s, dir, "documents").select(col("doc_id")).filter(col("doc_id") % 7 === 5),
          "doc_id", nScenes = 5, framesPerScene = 2, w = 16, h = 12),
        "doc_id", "avi")),

    // transactional-lite lifecycle: the upsert/CDC/compaction family
    // composed as VERSIONED COMMITS on one TxLog table (create -> append
    // -> upsert(+1 cents, incl. inserts) -> delete -> compact), then one
    // aggregate over the final snapshot — the oracle replays the composed
    // logical state in plain SQL, and n_versions pins the commit count
    "q291_txlog_lifecycle" -> ((s, dir) => {
      import graft.io.TxLog
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q291_").resolve("t").toString
      TxLog.create(s, tbl, src.filter(col("o_orderkey") % 4 === 0))
      TxLog.append(s, tbl, src.filter(col("o_orderkey") % 4 === 1))
      TxLog.upsert(s, tbl,
        src.filter(col("o_orderkey") % 20 === 0 || col("o_orderkey") % 20 === 6)
          .withColumn("cents", col("cents") + 1),
        Seq("o_orderkey"))
      TxLog.delete(s, tbl, col("o_orderkey") % 100 === 8)
      TxLog.compact(s, tbl, targetPartitions = 4)
      TxLog.read(s, tbl)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_live"), sum(col("cents")).as("sum_cents"))
        .withColumn("n_versions", lit(TxLog.history(tbl).length.toLong))
    }),

    // graph-tier ANN: sharded HNSW (per-shard navigable small-world
    // graphs, deterministic hash levels, beam search) — the q133/q135
    // recall contract: recall@10 vs brute must clear 0.5 per query
    // (observed ~1.0; the pinned bound is the non-flaky floor)
    "q292_knn_hnsw" -> ((s, dir) => {
      import graft.ext.{GraphAnn, Similarity}
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val approx = GraphAnn.hnswTopK(e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10,
        GraphAnn.HnswConfig(m = 8, efConstruction = 64, efSearch = 64, shards = 4))
      val brute = Similarity.bruteTopK(e, "vec_id", "embedding", q, "vec_id", "embedding", k = 10)
      val hits = approx.join(brute.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("__n_hit"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("__n_hit"), lit(0L)) >= 5L).as("recall_ok"))
    }),

    // serve-path sibling of q292 (the q267 discipline): the HNSW index
    // rows stage ONCE as parquet, the benched query only loads and
    // beam-searches — build-once/probe-many measured, same recall contract
    "q293_knn_hnsw_serve" -> ((s, dir) => {
      import graft.ext.{GraphAnn, Similarity}
      val cfg = GraphAnn.HnswConfig(m = 8, efConstruction = 64, efSearch = 64, shards = 4)
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val base = ensureServeArtifact("hnsw_v2", dir, "embeddings") { p =>
        GraphAnn.hnswBuild(e, "vec_id", "embedding", cfg).write.parquet(s"$p/graph")
      }
      val approx = GraphAnn.hnswQuery(graft.io.ParquetIO.read(s, s"$base/graph"),
        q, "vec_id", "embedding", k = 10, cfg)
      val brute = Similarity.bruteTopK(e, "vec_id", "embedding", q, "vec_id", "embedding", k = 10)
      val hits = approx.join(brute.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("__n_hit"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("__n_hit"), lit(0L)) >= 5L).as("recall_ok"))
    }),

    // streaming ingest through the TxLog commit log: idempotent
    // foreachBatch (one atomic commit per micro-batch, keyed by batchId),
    // a deliberate batch-0 REPLAY pinned as skipped, commit count pinned,
    // final snapshot == the batch table — exactly-once end to end
    "q294_txlog_stream_sink" -> ((s, dir) => StreamGate.txlogStreamSink(s, dir)),

    // incremental aggregate maintenance over TxLog APPEND DELTAS: state
    // seeds from v0 and folds each append's NEW SEGMENTS only (manifest
    // diff — history is never re-read), ending equal to the from-scratch
    // aggregation over the final snapshot (q257's merge-equals-rebuild
    // identity, now with the commit log providing the delta feed)
    "q295_txlog_incremental_agg" -> ((s, dir) => {
      import graft.io.TxLog
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q295_").resolve("t").toString
      TxLog.create(s, tbl, src.filter(col("o_orderkey") % 3 === 0))
      TxLog.append(s, tbl, src.filter(col("o_orderkey") % 3 === 1))
      TxLog.append(s, tbl, src.filter(col("o_orderkey") % 3 === 2))
      def aggOf(df: DataFrame) = df.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
      var state = aggOf(TxLog.read(s, tbl, 0))
      for (v <- 1L to 2L)
        state = graft.operators.Ingest.mergeAggState(
          state, aggOf(TxLog.appendedIn(s, tbl, v)), Seq("o_orderpriority"))
      state
    }),

    // PCA correctness CONTRACT pinned on the oracle (the q133 discipline
    // for q181's rows-only eigenvector output): per component — unit norm,
    // mutual orthogonality, eigenvalue-descending order, and the
    // data-tying check Var(projection_j) == eigenvalue_j (exact by
    // c_j'*Sigma*c_j = lambda_j under the shared n-1 normalizer, checked
    // at 1e-6 relative tolerance)
    "q296_pca_contract" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "embeddings")
      val k = 8
      val model = graft.ext.PcaOps.fit(e, "embedding", dim = 64, k = k)
      def dot(a: Array[Double], b: Array[Double]): Double =
        a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
      val proj = graft.ext.PcaOps.project(e, "vec_id", "embedding", model, whiten = false)
      val aggCols = Seq(count(lit(1)).as("__n")) ++ (0 until k).flatMap(j => Seq(
        sum(col(s"pc_$j")).as(s"__s$j"),
        sum(col(s"pc_$j") * col(s"pc_$j")).as(s"__q$j")))
      val r = proj.agg(aggCols.head, aggCols.tail: _*).head()
      val n = r.getAs[Long]("__n").toDouble
      val rows = (0 until k).map { j =>
        val c = model.components(j)
        val variance =
          (r.getAs[Double](s"__q$j") - math.pow(r.getAs[Double](s"__s$j"), 2) / n) / (n - 1)
        val lam = model.eigenvalues(j)
        (j.toLong,
          math.abs(math.sqrt(dot(c, c)) - 1.0) < 1e-9,
          (0 until j).forall(i => math.abs(dot(c, model.components(i))) < 1e-9),
          j == 0 || lam <= model.eigenvalues(j - 1),
          math.abs(variance - lam) <= 1e-6 * math.max(lam, 1e-9))
      }
      rows.toDF("component", "norm_ok", "orth_ok", "order_ok", "variance_match_ok")
    }),

    // Bloom decontamination NO-FALSE-NEGATIVE contract pinned on the
    // oracle (q117's rows-only FP-set sibling): per TRAIN doc, the Bloom
    // tier's flagged-gram count must dominate the exact tier's shared-gram
    // count — the one direction a blocklist filter must never miss
    "q297_bloom_contract" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 50 =!= 0)
      val evalSet = docs.filter(col("doc_id") % 50 === 0)
      val exact = graft.ext.CorpusFilters.decontaminate(
          train, evalSet, "doc_id", "text", n = 5)
        .select(col("doc_id"), col("n_shared_grams").as("__ex"))
      val bloom = graft.ext.CorpusFilters.bloomDecontaminate(
          train, evalSet, "doc_id", "text", n = 5)
        .select(col("doc_id"), col("n_flagged_grams").as("__bl"))
      exact.join(bloom, "doc_id")
        .select(col("doc_id"), (col("__bl") >= col("__ex")).as("superset_ok"))
    }),

    // TxLog VACUUM: rewrite commits strand superseded segments; vacuum
    // commits a retention floor (claim-serialized like any commit) and
    // reclaims the sub-floor-only segments. The gate composes a lifecycle
    // that rewrites twice, vacuums with retainVersions=2, and pins FOUR
    // contract booleans next to the hash-checked live aggregate: floor
    // value, sub-floor reads fail loudly, in-retention time travel still
    // reads, and the data dir holds EXACTLY the retained manifests' segments
    "q299_txlog_vacuum" -> ((s, dir) => {
      import graft.io.TxLog
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q299_").resolve("t").toString
      TxLog.create(s, tbl, src.filter(col("o_orderkey") % 2 === 0))        // v0
      TxLog.append(s, tbl, src.filter(col("o_orderkey") % 2 === 1))        // v1
      TxLog.upsert(s, tbl, src.filter(col("o_orderkey") % 10 === 0)
        .withColumn("cents", col("cents") + 1), Seq("o_orderkey"))         // v2 (rewrite)
      TxLog.delete(s, tbl, col("o_orderkey") % 50 === 3)                   // v3 (rewrite)
      TxLog.vacuum(s, tbl, retainVersions = 2)                             // v4, floor = 3
      val floorOk = TxLog.retentionFloor(tbl) == 3L
      val vacuumedGone = scala.util.Try(TxLog.read(s, tbl, 1L)).isFailure
      val retainedReadable = scala.util.Try(TxLog.read(s, tbl, 3L).columns).isSuccess
      val kept = TxLog.history(tbl).filter(_.version >= 3L).flatMap(_.segments).toSet
      val dirs = Option(new java.io.File(tbl, "data").listFiles()).getOrElse(Array.empty)
        .filter(_.isDirectory).map(f => s"data/${f.getName}").toSet
      TxLog.read(s, tbl).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_live"), sum(col("cents")).as("sum_cents"))
        .withColumn("n_versions", lit(TxLog.history(tbl).length.toLong))
        .withColumn("floor_ok", lit(floorOk))
        .withColumn("vacuumed_gone", lit(vacuumedGone))
        .withColumn("retained_readable", lit(retainedReadable))
        .withColumn("segments_reclaimed", lit(dirs == kept))
    }),

    // TxLog SCHEMA EVOLUTION: an appended generation carries an ADDED
    // column; the snapshot read merges schemas so old rows surface NULL
    // there (the q127 mergeSchema case, now through the commit log) — the
    // oracle replays the two-generation union in plain SQL
    "q300_txlog_schema_evolution" -> ((s, dir) => {
      import graft.io.TxLog
      val docs = t(s, dir, "documents")
      val tbl = graft.io.TempDirs.create("graft_txlog_q300_").resolve("t").toString
      TxLog.create(s, tbl,
        docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("source")))
      TxLog.append(s, tbl, docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("text_len")))
      TxLog.read(s, tbl).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(col("text_len")).as("n_with_len"),
          sum(coalesce(col("text_len"), lit(0L))).as("sum_len"))
    }),

    // OPTIMIZE ZORDER as a versioned commit: the compaction rewrite lays
    // the snapshot along the (o_custkey, cents) Z-curve; the pinned
    // skipping contract measures the layout (a ~5% custkey window must
    // overlap a minority of the optimized segment's row groups — footer
    // stats only, the machinery a pruning scan uses), while the hash
    // oracle proves content identity
    "q304_txlog_optimize" -> ((s, dir) => {
      import graft.io.{TxLog, ZOrder}
      val src = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q304_").resolve("t").toString
      TxLog.create(s, tbl, src.repartition(8))                          // v0
      val snap = TxLog.optimize(s, tbl, "o_custkey", "cents", targetPartitions = 16) // v1
      val maxCust = src.agg(max(col("o_custkey"))).head().getLong(0).toDouble
      val (overlap, total) = ZOrder.overlappingRowGroups(
        s, s"$tbl/${snap.segments.head}", "o_custkey", maxCust * 0.10, maxCust * 0.15)
      TxLog.read(s, tbl)
        .groupBy((col("o_custkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("n_versions", lit(TxLog.history(tbl).length.toLong))
        .withColumn("op_ok", lit(snap.op == "optimize_zorder:o_custkey,cents"))
        .withColumn("skipping_ok", lit(total >= 8L && overlap.toDouble / total <= 0.5))
    }),

    // CHANGE FEED: incremental consumers resume from their last processed
    // version and read ONLY the new segments, each row tagged with its
    // commit version — replayed in SQL as the same %3 splits with literal
    // version tags
    "q305_txlog_changefeed" -> ((s, dir) => {
      import graft.io.TxLog
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q305_").resolve("t").toString
      TxLog.create(s, tbl, src.filter(col("o_orderkey") % 3 === 0))
      TxLog.append(s, tbl, src.filter(col("o_orderkey") % 3 === 1))
      TxLog.append(s, tbl, src.filter(col("o_orderkey") % 3 === 2))
      TxLog.changeFeed(s, tbl, 0L)
        .groupBy(col("_commit_version"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
    }),

    // HNSW serve-time DELETE LIST: tombstoned ids keep ROUTING the beam
    // (an insert-only graph cannot unlink nodes without degrading its
    // neighbors' reachability) but never surface — recall contract vs
    // brute over the corpus MINUS the tombstones, plus a pinned
    // no-tombstone-served boolean
    "q306_knn_hnsw_deletes" -> ((s, dir) => {
      import graft.ext.{GraphAnn, Similarity}
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val dead = e.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
      val cfg = GraphAnn.HnswConfig(m = 8, efConstruction = 64, efSearch = 96, shards = 4)
      val approx = GraphAnn.hnswQuery(
        GraphAnn.hnswBuild(e, "vec_id", "embedding", cfg),
        q, "vec_id", "embedding", k = 10, cfg, deleted = Some(dead))
      val noTombstones = approx.filter(col("neighbor_id") % 7 === 0).count() == 0L
      val brute = Similarity.bruteTopK(e.filter(col("vec_id") % 7 =!= 0),
        "vec_id", "embedding", q, "vec_id", "embedding", k = 10)
      val hits = approx.join(brute.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("__n_hit"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("__n_hit"), lit(0L)) >= 5L).as("recall_ok"),
          lit(noTombstones).as("no_tombstones_served"))
    }),

    // COPY-ON-WRITE rewrite commits: a selective upsert discovers the
    // segments that actually hold its keys (footer-stats-pruned key scan)
    // and rewrites ONLY those — the manifest provably carries the
    // untouched segments forward VERBATIM (pinned booleans for both the
    // upsert and a selective delete), while the hash oracle proves the
    // live content is exactly MERGE-INTO semantics. The 100 TB claim this
    // pins: rewrite cost tracks touched volume, not table size
    "q308_txlog_upsert_cow" -> ((s, dir) => {
      import graft.io.TxLog
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q308_").resolve("t").toString
      TxLog.create(s, tbl, src.filter(col("o_orderkey") % 3 === 0))   // seg A
      TxLog.append(s, tbl, src.filter(col("o_orderkey") % 3 === 1))   // seg B
      TxLog.append(s, tbl, src.filter(col("o_orderkey") % 3 === 2))   // seg C
      val v2 = TxLog.latest(tbl)
      // update keys are multiples of 30 — every one lives in seg A
      TxLog.upsert(s, tbl, src.filter(col("o_orderkey") % 30 === 0)
        .withColumn("cents", col("cents") + 1), Seq("o_orderkey"))    // v3
      val v3 = TxLog.latest(tbl)
      val upsertKept = v2.segments.count(v3.segments.contains)
      // delete keys ≡ 10 (mod 15) — every one lives in seg B
      TxLog.delete(s, tbl,
        col("o_orderkey") % 3 === 1 && col("o_orderkey") % 5 === 0)   // v4
      val v4 = TxLog.latest(tbl)
      val deleteKept = v3.segments.count(v4.segments.contains)
      TxLog.read(s, tbl).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_live"), sum(col("cents")).as("sum_cents"))
        .withColumn("n_versions", lit(TxLog.history(tbl).length.toLong))
        .withColumn("upsert_kept_segments", lit(upsertKept >= 2))
        .withColumn("delete_kept_segments", lit(deleteKept >= 2))
    }),

    // FULL CDF change feed: a range mixing appends, an upsert (with both
    // matched updates and unmatched inserts) and a delete classifies every
    // row as insert / update_preimage / update_postimage / delete — the
    // Delta CDF shape, computed from the copy-on-write manifest diff so
    // the feed's cost tracks each rewrite's touched volume
    "q309_txlog_cdf" -> ((s, dir) => {
      import graft.io.TxLog
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q309_").resolve("t").toString
      TxLog.create(s, tbl, src.filter(col("o_orderkey") % 3 === 0))   // v0
      TxLog.append(s, tbl, src.filter(col("o_orderkey") % 3 === 1))   // v1
      // %30==0 keys exist (update); %30==2 keys are ≡2 mod 3 — new (insert)
      TxLog.upsert(s, tbl,
        src.filter(col("o_orderkey") % 30 === 0 || col("o_orderkey") % 30 === 2)
          .withColumn("cents", col("cents") + 1), Seq("o_orderkey"))  // v2
      TxLog.delete(s, tbl, col("o_orderkey") % 15 === 1)              // v3
      TxLog.changeFeed(s, tbl, 0L)
        .groupBy(col("_commit_version"), col("_change_type"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
    }),

    // TXLOG AS A STREAMING SOURCE: the exactly-once follower closes the
    // pipeline-to-pipeline loop — a consumer resumes from its committed
    // high-water SOURCE VERSION (the progress mark rides the DESTINATION's
    // own log, no external offset store), folds only the feed's new insert
    // rows into additive state, and a caught-up or replayed call is
    // SKIPPED. Final state hash-oracled against the from-scratch aggregate
    "q310_txlog_follow" -> ((s, dir) => {
      import graft.io.TxLog
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val root = graft.io.TempDirs.create("graft_txlog_q310_")
      val srcTbl = root.resolve("src").toString
      val dstTbl = root.resolve("dst").toString
      def aggOf(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
      TxLog.create(s, srcTbl, src.filter(col("o_orderkey") % 4 === 0))  // v0
      TxLog.append(s, srcTbl, src.filter(col("o_orderkey") % 4 === 1))  // v1
      val first = TxLog.followAggregate(s, srcTbl, dstTbl, "c1",
        Seq("o_orderpriority"))(aggOf)
      TxLog.append(s, srcTbl, src.filter(col("o_orderkey") % 4 === 2))  // v2
      TxLog.append(s, srcTbl, src.filter(col("o_orderkey") % 4 === 3))  // v3
      val second = TxLog.followAggregate(s, srcTbl, dstTbl, "c1",
        Seq("o_orderpriority"))(aggOf)
      val caughtUpSkipped = !TxLog.followAggregate(s, srcTbl, dstTbl, "c1",
        Seq("o_orderpriority"))(aggOf)
      TxLog.read(s, dstTbl)
        .withColumn("advanced_ok", lit(first && second))
        .withColumn("caught_up_skipped", lit(caughtUpSkipped))
        .withColumn("n_src_versions", lit(TxLog.history(srcTbl).length.toLong))
    }),

    // TIMESTAMP TIME TRAVEL: manifests record their writer's commit time
    // (clock injected here so the gate is deterministic); readAsOf
    // resolves "the table as of t" to the newest version whose monotonized
    // timestamp is <= t. The hash oracle reads the PRE-upsert state
    // through a timestamp strictly between v1 and v2's commit times
    "q312_txlog_time_travel" -> ((s, dir) => {
      import graft.io.{PosixLogStore, TxLogOps}
      val ticks = new java.util.concurrent.atomic.AtomicLong(0L)
      val ops = new TxLogOps(PosixLogStore, clock = () => ticks.addAndGet(1000L))
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q312_").resolve("t").toString
      ops.create(s, tbl, src.filter(col("o_orderkey") % 2 === 0))     // v0 ts=1000
      ops.append(s, tbl, src.filter(col("o_orderkey") % 2 === 1))     // v1 ts=2000
      ops.upsert(s, tbl, src.filter(col("o_orderkey") % 20 === 0)
        .withColumn("cents", col("cents") + 1), Seq("o_orderkey"))    // v2 ts=3000
      val resolveOk = ops.versionAt(tbl, 2500L) == 1L &&
        ops.versionAt(tbl, 3000L) == 2L &&
        scala.util.Try(ops.versionAt(tbl, 999L)).isFailure
      ops.readAsOf(s, tbl, 2500L)                                     // pre-upsert state
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("resolve_ok", lit(resolveOk))
    }),

    // ORPHAN-SEGMENT GC: a writer that dies between writing its segment
    // and claiming the commit leaks the dir; vacuum's age-thresholded
    // sweep reclaims it while a FRESH in-flight dir and every referenced
    // segment survive — pinned booleans beside the hash-checked live table
    "q313_txlog_orphan_gc" -> ((s, dir) => {
      import graft.io.TxLog
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q313_").resolve("t").toString
      TxLog.create(s, tbl, src.filter(col("o_orderkey") % 2 === 0))
      TxLog.append(s, tbl, src.filter(col("o_orderkey") % 2 === 1))
      val past = System.currentTimeMillis() - 600000L
      val aged = new java.io.File(tbl, "data/orphan_crashed_writer")
      aged.mkdirs()
      java.nio.file.Files.write(new java.io.File(aged, "part-0.parquet").toPath,
        Array[Byte](0, 1, 2))
      aged.listFiles().foreach(_.setLastModified(past)); aged.setLastModified(past)
      val inflight = new java.io.File(tbl, "data/orphan_inflight_writer")
      inflight.mkdirs()
      // referenced segments aged too: age alone must never reclaim them
      TxLog.latest(tbl).segments.foreach { seg =>
        val d = new java.io.File(tbl, seg)
        d.listFiles().foreach(_.setLastModified(past)); d.setLastModified(past)
      }
      TxLog.vacuum(s, tbl, retainVersions = 10, orphanAgeMs = 60000L)
      val agedGone = !aged.exists()
      val inflightKept = inflight.exists()
      TxLog.read(s, tbl).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_live"), sum(col("cents")).as("sum_cents"))
        .withColumn("aged_orphan_reclaimed", lit(agedGone))
        .withColumn("inflight_survives", lit(inflightKept))
    }),

    // SIZE-TIERED COMPACTION (OPTIMIZE bin-packing): a stream-fed table
    // strands tiny per-batch segments; compactSmall coalesces ONLY the
    // small tier and carries every well-sized segment forward verbatim —
    // pinned booleans for the kept big segment and the packed count, the
    // live table hash-oracled, and the compaction version's change feed
    // pinned EMPTY (row-preserving commits are not logical changes)
    "q314_txlog_compact_small" -> ((s, dir) => {
      import graft.io.TxLog
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q314_").resolve("t").toString
      TxLog.create(s, tbl, src.filter(col("o_orderkey") % 2 === 0))  // BIG segment
      // a micro-batch stream strands 5 tiny segments
      (1L to 5L).foreach { i =>
        TxLog.appendStreamBatch(s, tbl,
          src.filter(col("o_orderkey") % 2 === 1 && col("o_orderkey") % 10 === (2 * i - 1)),
          "q314", i); ()
      }
      val before = TxLog.latest(tbl)
      val big = before.segments.head
      // SF-independent threshold: the big segment's own size — the tiny
      // per-batch segments hold ~1/10 of its rows, the big one is never
      // strictly smaller than itself
      def segBytes(seg: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isFile) f.length()
          else Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
        walk(new java.io.File(tbl, seg))
      }
      val snap = TxLog.compactSmall(s, tbl, smallBytes = segBytes(big))
      val packedOk = snap.op == "compact_small:5" && snap.segments.size == 2
      val bigKept = snap.segments.contains(big)
      val feedEmpty = TxLog.changeFeed(s, tbl, snap.version - 1).isEmpty
      TxLog.read(s, tbl).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_live"), sum(col("cents")).as("sum_cents"))
        .withColumn("packed_ok", lit(packedOk))
        .withColumn("big_kept_verbatim", lit(bigKept))
        .withColumn("compaction_feed_empty", lit(feedEmpty))
    }),

    // MANIFEST-LEVEL DATA SKIPPING: every commit records per-segment
    // numeric [min, max] envelopes in the manifest (the Delta/Iceberg
    // min-max file-pruning discipline, at segment granularity, read from
    // the fresh segment's parquet footers — no data scan); a range read
    // prunes whole segments driver-side before any file is listed, then
    // the pushed predicate prunes row groups inside the survivors. The
    // gate lays four disjoint key-range slices and pins that a range
    // covering exactly one slice scans 1 segment and skips 3, with the
    // filtered aggregate hash-oracled
    "q316_txlog_data_skipping" -> ((s, dir) => {
      import graft.io.TxLog
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q316_").resolve("t").toString
      val mx = src.agg(max(col("o_orderkey"))).head().getLong(0)
      TxLog.create(s, tbl, src.filter(col("o_orderkey") <= mx / 4))
      TxLog.append(s, tbl,
        src.filter(col("o_orderkey") > mx / 4 && col("o_orderkey") <= mx / 2))
      TxLog.append(s, tbl,
        src.filter(col("o_orderkey") > mx / 2 && col("o_orderkey") <= mx / 4 * 3))
      TxLog.append(s, tbl, src.filter(col("o_orderkey") > mx / 4 * 3))
      val lo = (mx / 4 + 1).toDouble
      val hi = (mx / 2).toDouble
      val (scanned, skipped) = TxLog.prunedSegments(tbl, "o_orderkey", lo, hi)
      TxLog.readWhere(s, tbl, "o_orderkey", lo, hi)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("pruned_ok", lit(scanned.size == 1 && skipped.size == 3))
    }),

    // RANGE-TYPED DELETE resolved against the manifest envelopes — the
    // retention workload of a time-ordered 100 TB table: of four disjoint
    // key-range slices, the fully-covered one DROPS as a pure manifest
    // edit (no scan, no rewrite — legal because the footers proved no
    // NULLs), the two disjoint ones carry forward verbatim without even a
    // file listing, and only the half-covered one rewrites. The per-tier
    // split is recorded in the manifest op (pinned), the removed rows are
    // re-counted through the change feed (hash-checked against the
    // oracle), and the live table is hash-oracled
    "q318_txlog_delete_where" -> ((s, dir) => {
      import graft.io.TxLog
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q318_").resolve("t").toString
      val mx = src.agg(max(col("o_orderkey"))).head().getLong(0)
      TxLog.create(s, tbl, src.filter(col("o_orderkey") <= mx / 4))
      TxLog.append(s, tbl,
        src.filter(col("o_orderkey") > mx / 4 && col("o_orderkey") <= mx / 2))
      TxLog.append(s, tbl,
        src.filter(col("o_orderkey") > mx / 2 && col("o_orderkey") <= mx / 4 * 3))
      TxLog.append(s, tbl, src.filter(col("o_orderkey") > mx / 4 * 3))
      // covers slice 2 entirely and the first half of slice 3
      val lo = (mx / 4 + 1).toDouble
      val hi = (mx / 2 + mx / 8).toDouble
      val snap = TxLog.deleteWhere(s, tbl, "o_orderkey", lo, hi)
      val tiersOk = snap.op.endsWith(";kept=2;dropped=1;rewritten=1")
      val nDeleted = TxLog.changeFeed(s, tbl, snap.version - 1)
        .filter(col("_change_type") === "delete").count()
      TxLog.read(s, tbl).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_live"), sum(col("cents")).as("sum_cents"))
        .withColumn("tiers_ok", lit(tiersOk))
        .withColumn("n_cdf_deletes", lit(nDeleted))
        .withColumn("n_versions", lit(TxLog.history(tbl).length.toLong))
    }),

    // INDEX-FOLLOWS-TABLE (the round-10 flagship, verdict r9 #1): an
    // exactly-once HNSW follower rides a TxLog corpus' change feed —
    // bootstrap from the snapshot, adopt-and-insert on appends AND an
    // exactly-once stream batch, dv-keyed GDPR erasures land on the
    // serve-time tombstone list, and upserted (re-embedded) ids trigger a
    // compact-and-reinsert that retires the tombstones. Pins: recall vs
    // brute force over the LIVE snapshot, graph-ids == live-corpus-ids
    // coverage, updated ids serving their NEW vectors, erased ids never
    // served, and a deliberate replay skipped (exactly-once)
    "q326_index_follows_table" -> ((s, dir) => {
      import graft.ext.{GraphAnn, IndexFollower, Similarity}
      import graft.io.TxLog
      val cfg = GraphAnn.HnswConfig(m = 8, efConstruction = 96, efSearch = 128, shards = 4)
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val root = graft.io.TempDirs.create("graft_q326_")
      val src = root.resolve("docs").toString
      val idx = root.resolve("index").toString
      def follow() = IndexFollower.followIndex(s, src, idx, "ann", "vec_id", "embedding", cfg)
      TxLog.create(s, src, e.filter(col("vec_id") % 4 === 0))                     // v0
      val f1 = follow()                                                           // bootstrap
      TxLog.append(s, src, e.filter(col("vec_id") % 4 === 1))                     // v1
      TxLog.appendStreamBatch(s, src, e.filter(col("vec_id") % 4 === 2), "ing", 0L) // v2
      val f2 = follow()                                                           // pure inserts
      val upd = e.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id"), transform(col("embedding"), x => -x).as("embedding"))
        .unionByName(e.filter(col("vec_id") % 4 === 3))
      TxLog.upsert(s, src, upd, Seq("vec_id"))                                    // v3 (COW)
      TxLog.deleteRowsKeyed(s, src,
        e.filter(col("vec_id") % 25 === 7).select(col("vec_id")), Seq("vec_id"))  // v4 (dv)
      val f3 = follow()                                                  // shard-scoped rebuilds
      val replaySkipped = !follow()
      // SHARD-SCOPED pin (r10 verdict #1): a single-id update rebuilds
      // exactly ONE of the 4 shard-aligned state segments — every other
      // shard's node segment carries VERBATIM in the state manifest
      val segsBefore = TxLog.latest(idx).segments.toSet
      TxLog.upsert(s, src, e.filter(col("vec_id") === 2)
        .select(col("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding")),
        Seq("vec_id"))                                                            // v5
      val f4 = follow()
      val keptVerbatim = TxLog.latest(idx).segments.toSet
        .intersect(segsBefore).size >= cfg.shards - 1
      val live = TxLog.read(s, src)
      val state = TxLog.read(s, idx)
      val nodeIds = IndexFollower.nodesOf(state).select(col("id"))
      val tombIds = IndexFollower.tombstonesOf(state)
      val liveIds = live.select(col("vec_id").cast("long").as("id"))
      // exact accounting: graph minus tombstones == live corpus (non-
      // rebuilt shards legitimately keep tombstoned ids routing the beam).
      // One-pass multiset equality (r11): same predicate as the two
      // exceptAll.isEmpty actions, each input computed once
      val served = nodeIds.exceptAll(tombIds)
      val coverageOk = RelCheck.multisetEquals(served, liveIds)
      // re-embedded ids serve their NEW (negated) vectors
      val negOk = IndexFollower.nodesOf(state).filter(col("id") % 20 === 0)
        .join(e.filter(col("vec_id") % 20 === 0)
          .select(col("vec_id").as("id"), col("embedding")), Seq("id"))
        .filter(col("vec") =!= transform(col("embedding"), x => -x)).isEmpty
      val q = e.filter(col("vec_id") < 5)
      val res = IndexFollower.searchIndex(s, idx, q, "vec_id", "embedding", k = 10, cfg)
      val erased = e.filter(col("vec_id") % 25 === 7)
        .select(col("vec_id").as("neighbor_id"))
      val noErasedServed = res.join(erased, Seq("neighbor_id"), "left_semi").isEmpty
      val brute = Similarity.bruteTopK(live, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10)
      val hits = res.join(brute.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("__n_hit"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("__n_hit"), lit(0L)) >= 5L).as("recall_ok"),
          lit(f1 && f2 && f3 && f4 && replaySkipped).as("exactly_once_ok"),
          lit(coverageOk).as("coverage_ok"),
          lit(negOk && noErasedServed).as("updates_and_erasures_ok"),
          lit(keptVerbatim).as("kept_verbatim_ok"))
    }),

    // IVF-PQ-FOLLOWS-TABLE: the quantized tier of the follower family —
    // and the one where following is cheapest: an insert advance APPENDS
    // exactly the batch's (cell, code) rows quantized against the TRAINED
    // artifacts (pinned: the advance's state commit keeps every prior
    // segment verbatim), deletes/updates append generation tombstones.
    // Pins: recall vs brute over the live snapshot, resolved-ids coverage,
    // erased ids never served, the append shape, and the replay skip
    "q333_ivfpq_follows_table" -> ((s, dir) => {
      import graft.ext.{IndexFollower, Similarity}
      import graft.io.TxLog
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.l2normalized(col("embedding")).as("embedding"))
      val root = graft.io.TempDirs.create("graft_q333_")
      val src = root.resolve("docs").toString
      val idx = root.resolve("index").toString
      val ivfCfg = Similarity.IvfConfig(nlist = 32, nprobe = 16)
      val pqCfg = Similarity.PqConfig(m = 8, ksub = 32)
      // retrainGrowth raised past the fixture's 3x growth so the gate
      // exercises the APPEND path (the default 1.0 would retrain on the
      // doubling append — correct behavior, the spec pins the rebuild)
      def follow() = IndexFollower.followIvfPq(s, src, idx, "pq",
        "vec_id", "embedding", ivfCfg, pqCfg, retrainGrowth = 4.0)
      TxLog.create(s, src, e.filter(col("vec_id") % 3 === 0))                 // v0
      val f1 = follow()                                                       // bootstrap build
      TxLog.append(s, src, e.filter(col("vec_id") % 3 === 1))                 // v1
      val f2 = follow()                                                       // append-shaped
      val h2 = TxLog.history(idx)
      val appendOk = h2.init.last.segments.forall(h2.last.segments.contains)
      TxLog.upsert(s, src, e.filter(col("vec_id") % 3 === 2)
        .unionByName(e.filter(col("vec_id") % 30 === 0)
          .select(col("vec_id"),
            transform(col("embedding"), x => -x).as("embedding"))), Seq("vec_id")) // v2
      TxLog.deleteRowsKeyed(s, src,
        e.filter(col("vec_id") % 25 === 7).select(col("vec_id")), Seq("vec_id"))   // v3
      val f3 = follow()
      val replaySkipped = !follow()
      val live = TxLog.read(s, src)
      val (ivf, _) = IndexFollower.ivfPqOf(TxLog.read(s, idx))
      val coverageOk = RelCheck.multisetEquals(
        ivf.assigned.select(col("neighbor_id")),
        live.select(col("vec_id").cast("long")))
      val q = e.filter(col("vec_id") < 5)
      val res = IndexFollower.searchFollowedIvfPq(s, idx, q, "vec_id", "embedding",
        k = 10, nprobe = 16, rerank = 300)
      val erased = e.filter(col("vec_id") % 25 === 7)
        .select(col("vec_id").as("neighbor_id"))
      val noErasedServed = res.join(erased, Seq("neighbor_id"), "left_semi").isEmpty
      val brute = Similarity.bruteTopK(live, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10)
      val hits = res.join(brute.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("__n_hit"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("__n_hit"), lit(0L)) >= 5L).as("recall_ok"),
          lit(f1 && f2 && f3 && replaySkipped).as("exactly_once_ok"),
          lit(coverageOk && noErasedServed).as("coverage_ok"),
          lit(appendOk).as("append_shaped_ok"))
    }),

    // MINHASH-INDEX-FOLLOWS-TABLE: the dedup twin of q326 — the followed
    // MinHash index (band table + verification base, maintained per-id
    // from the change feed through create/append/upsert/dv-delete) is
    // pinned EXACTLY EQUAL as a relation to a from-scratch
    // buildMinhashIndex over the live snapshot (not merely equivalent),
    // with the replay skipped (exactly-once)
    "q332_minhash_follows_table" -> ((s, dir) => {
      import graft.ext.{Dedup, IndexFollower}
      import graft.io.TxLog
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
      val root = graft.io.TempDirs.create("graft_q332_")
      val src = root.resolve("docs").toString
      val idx = root.resolve("mh").toString
      val cfg = Dedup.MinHashConfig()
      def follow() = IndexFollower.followMinhashIndex(s, src, idx, "mh", "doc_id", "text", cfg)
      TxLog.create(s, src, docs.filter(col("doc_id") % 3 === 0))               // v0
      val f1 = follow()
      TxLog.append(s, src, docs.filter(col("doc_id") % 3 === 1))               // v1
      val f2 = follow()
      // re-text existing ids (%30==0 ⊂ the created slice) + insert the rest
      val upd = docs.filter(col("doc_id") % 30 === 0)
        .select(col("doc_id"),
          concat(col("text"), lit(" revised edition")).as("text"), col("lang"))
        .unionByName(docs.filter(col("doc_id") % 3 === 2))
      TxLog.upsert(s, src, upd, Seq("doc_id"))                                 // v2 (COW)
      TxLog.deleteRowsKeyed(s, src,
        docs.filter(col("doc_id") % 17 === 3).select(col("doc_id")), Seq("doc_id")) // v3 (dv)
      val f3 = follow()
      val replaySkipped = !follow()
      val live = TxLog.read(s, src)
      val followed = IndexFollower.minhashIndexOf(TxLog.read(s, idx))
      val rebuilt = Dedup.buildMinhashIndex(live, "doc_id", "text", cfg)
      // ONE multiset-equality action over the kind-tagged union of both
      // relations (r11): the old per-relation two-exceptAll form executed
      // the followed resolution AND the from-scratch rebuild four times
      // each — the single pass computes each side once; the kind column
      // keeps bands/base equality separable, so the predicate is unchanged
      def tagged(ix: Dedup.MinhashIndex) =
        ix.bands.select(lit("band").as("kind"), col("id").cast("long").as("id"),
            col("band").cast("int").as("band"), col("bh").cast("long").as("bh"),
            lit(null).cast("array<bigint>").as("shh"), lit(null).cast("int").as("sz"))
          .unionByName(ix.base.select(lit("base").as("kind"),
            col("id").cast("long").as("id"),
            lit(null).cast("int").as("band"), lit(null).cast("long").as("bh"),
            col("shh"), col("sz").cast("int").as("sz")))
      val stateOk = RelCheck.multisetEquals(tagged(followed), tagged(rebuilt))
      live.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        .withColumn("state_equals_rebuild", lit(stateOk))
        .withColumn("exactly_once_ok", lit(f1 && f2 && f3 && replaySkipped))
    }),

    // SCOPED OPTIMIZE ZORDER (verdict r9 #2): re-clustering after a day's
    // appends rewrites only the un-clustered segments — the prior
    // optimize's output carries VERBATIM (pinned), a second scoped call is
    // a manifest-only noop (pinned), and manifest-level data skipping
    // stays exact through the incremental layout (pinned)
    "q327_txlog_optimize_scoped" -> ((s, dir) => {
      import graft.io.TxLog
      val src = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_orderpriority"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q327_").resolve("t").toString
      val mx = src.agg(max(col("o_orderkey"))).head().getLong(0)
      TxLog.create(s, tbl, src.filter(col("o_orderkey") <= mx / 2))             // v0
      TxLog.optimize(s, tbl, "o_custkey", "cents", targetPartitions = 8)        // v1 full
      val clustered = TxLog.latest(tbl).segments.toSet
      TxLog.append(s, tbl, src.filter(col("o_orderkey") > mx / 2))              // v2
      val v3 = TxLog.optimize(s, tbl, "o_custkey", "cents",
        targetPartitions = 8, scoped = true)                                    // v3
      val keptOk = clustered.forall(v3.segments.contains) &&
        v3.op == "optimize_zorder:o_custkey,cents"
      val v4 = TxLog.optimize(s, tbl, "o_custkey", "cents",
        targetPartitions = 8, scoped = true)            // nothing-to-do: NO commit
      val noopOk = v4.version == v3.version && v4.segments == v3.segments
      val probeHi = (src.agg(max(col("o_custkey"))).head().getLong(0) / 10).toDouble
      val whereOk = TxLog.readWhere(s, tbl, "o_custkey", 1.0, probeHi).count() ==
        TxLog.read(s, tbl)
          .filter(col("o_custkey") >= 1 && col("o_custkey") <= probeHi).count()
      TxLog.read(s, tbl).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("n_versions", lit(TxLog.history(tbl).length.toLong))
        .withColumn("kept_verbatim_ok", lit(keptOk))
        .withColumn("noop_ok", lit(noopOk))
        .withColumn("where_ok", lit(whereOk))
    }),

    // CONFLICT-AWARE COMMIT REBASE (verdict r9 #3): 7 genuinely concurrent
    // appends against one table — every lost claim REBASES by manifest
    // arithmetic instead of recomputing (zero recomputes pinned; versions
    // contiguous pinned; no append lost, content hash-oracled)
    "q328_txlog_concurrent_appends" -> ((s, dir) => {
      import graft.io.{PosixLogStore, TxLogOps}
      val ops = new TxLogOps(PosixLogStore)
      val src = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q328_").resolve("t").toString
      ops.create(s, tbl, src.filter(col("o_orderkey") % 8 === 0))
      val rc0 = ops.commitRecomputeCount.get()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(7)
      try {
        val fs = (1 to 7).map { i =>
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long =
              ops.append(s, tbl, src.filter(col("o_orderkey") % 8 === i)).version
          })
        }
        fs.foreach(_.get())
      } finally pool.shutdown()
      val versionsOk = ops.history(tbl).map(_.version) == (0L to 7L)
      val zeroRecompute = ops.commitRecomputeCount.get() == rc0
      ops.read(s, tbl).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("versions_contiguous", lit(versionsOk))
        .withColumn("zero_recomputes", lit(zeroRecompute))
    }),

    // CHECKPOINTED TIMESTAMP INDEX (verdict r9 #7): timestamp time travel
    // on a 12-version table resolves through the checkpoints' running-max
    // timestamps — the parse count is pinned FLAT (<= 2*interval + 2,
    // never the full retained history) and the resolved snapshot's
    // content is pinned against the slice arithmetic
    "q329_txlog_ts_index" -> ((s, dir) => {
      import graft.io.{PosixLogStore, TxLogOps}
      val ticks = new java.util.concurrent.atomic.AtomicLong(0L)
      val ops = new TxLogOps(PosixLogStore, checkpointInterval = 4,
        clock = () => ticks.addAndGet(1000L))
      val src = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q329_").resolve("t").toString
      ops.create(s, tbl, src.filter(col("o_orderkey") % 12 === 0))   // v0 ts=1000
      (1 to 11).foreach(i =>
        ops.append(s, tbl, src.filter(col("o_orderkey") % 12 === i))) // v1..v11
      // version v committed at ts=(v+1)*1000; checkpoints at 4 and 8
      val p0 = ops.manifestParseCount.get()
      val resolved = ops.versionAt(tbl, 10500L)
      val parses = ops.manifestParseCount.get() - p0
      val flatOk = resolved == 9L && parses <= 2L * 4 + 2
      val asofOk = ops.readAsOf(s, tbl, 10500L).count() ==
        src.filter(col("o_orderkey") % 12 <= 9).count()
      ops.read(s, tbl).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("n_versions", lit(ops.history(tbl).length.toLong))
        .withColumn("flat_ok", lit(flatOk))
        .withColumn("asof_ok", lit(asofOk))
    }),

    // NATIVE STREAMING SOURCE (verdict r10 #3): a VANILLA
    // spark.readStream.format("graft_txlog") job follows a TxLog table
    // with its own checkpoint — AvailableNow + bounded triggers drain the
    // backlog, a restart resumes from the checkpoint consuming ONLY the
    // versions committed since its mark (pinned), a caught-up drain moves
    // nothing, and the drained content equals the source (hash-oracled)
    "q334_txlog_stream_source" -> ((s, dir) => {
      import graft.io.TxLog
      import org.apache.spark.sql.streaming.Trigger
      val src0 = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val root = graft.io.TempDirs.create("graft_q334_")
      val src = root.resolve("src").toString
      val out = root.resolve("out").toString
      val ckp = root.resolve("ckp").toString
      TxLog.create(s, src, src0.filter(col("o_orderkey") % 7 === 0))         // v0
      (1 to 4).foreach(i =>
        TxLog.append(s, src, src0.filter(col("o_orderkey") % 7 === i)))      // v1..v4
      def drain(): Unit = {
        val q = s.readStream.format("graft_txlog")
          .option("maxVersionsPerTrigger", 2).load(src)
          .filter(col("_change_type") === "insert")
          .select(col("o_orderkey"), col("o_orderpriority"), col("cents"))
          .writeStream.outputMode("append").format("parquet")
          .option("path", out).option("checkpointLocation", ckp)
          .trigger(Trigger.AvailableNow()).start()
        require(q.awaitTermination(300000), "graft_txlog stream did not drain")
      }
      drain() // snapshot@v1 + (1,3] + (3,4]
      val afterFirst = graft.io.ParquetIO.read(s, out).count()
      (5 to 6).foreach(i =>
        TxLog.append(s, src, src0.filter(col("o_orderkey") % 7 === i)))      // v5..v6
      drain() // resume: only (4, 6]
      drain() // caught up: nothing
      val total = graft.io.ParquetIO.read(s, out).count()
      val resumeOk = afterFirst == src0.filter(col("o_orderkey") % 7 <= 4).count() &&
        total == src0.count()
      graft.io.ParquetIO.read(s, out).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("resume_ok", lit(resumeOk))
    }),

    // NATIVE TABLE-TO-TABLE STREAMING PIPELINE: readStream("graft_txlog")
    // → transform → writeStream("graft_txlog") — BOTH ends native, each
    // micro-batch one atomic keyed commit (exactly-once via the
    // destination's own high-water mark), the resumed checkpoint consumes
    // only the new range, a caught-up drain commits nothing (pinned), and
    // the piped content equals the source (hash-oracled)
    "q340_txlog_stream_pipe" -> ((s, dir) => {
      import graft.io.TxLog
      import org.apache.spark.sql.streaming.Trigger
      val src0 = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val root = graft.io.TempDirs.create("graft_q340_")
      val src = root.resolve("src").toString
      val dst = root.resolve("dst").toString
      val ckp = root.resolve("ckp").toString
      TxLog.create(s, src, src0.filter(col("o_orderkey") % 6 === 0))         // v0
      (1 to 3).foreach(i =>
        TxLog.append(s, src, src0.filter(col("o_orderkey") % 6 === i)))      // v1..v3
      def pipe(): Unit = {
        val q = s.readStream.format("graft_txlog")
          .option("maxVersionsPerTrigger", 2).load(src)
          .filter(col("_change_type") === "insert")
          .select(col("o_orderkey"), col("o_orderpriority"), col("cents"))
          .writeStream.format("graft_txlog")
          .option("streamId", "pipe").option("checkpointLocation", ckp)
          .trigger(Trigger.AvailableNow()).start(dst)
        require(q.awaitTermination(300000), "graft_txlog pipe did not drain")
      }
      pipe()
      val afterFirst = TxLog.read(s, dst).count()
      (4 to 5).foreach(i =>
        TxLog.append(s, src, src0.filter(col("o_orderkey") % 6 === i)))      // v4..v5
      pipe() // resume: only (3, 5]
      val versionsAfterResume = TxLog.history(dst).length
      pipe() // caught up: nothing commits
      val resumeOk = afterFirst == src0.filter(col("o_orderkey") % 6 <= 3).count() &&
        TxLog.history(dst).length == versionsAfterResume
      TxLog.read(s, dst).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("resume_ok", lit(resumeOk))
    }),

    // NATIVE STREAMING REPLICATION (the cdc sink mode): the sink applies
    // the source's CLASSIFIED change feed exactly-once by key — the
    // replica CONVERGES under a resumed advance mixing a COW upsert, a
    // dv delete, and an append in ONE batch; each advance is one keyed
    // commit; a caught-up drain commits nothing; and the replica
    // byte-equals the live source (pinned) on top of the hash oracle
    "q341_txlog_cdc_replica" -> ((s, dir) => {
      import graft.io.TxLog
      import org.apache.spark.sql.streaming.Trigger
      val src0 = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val root = graft.io.TempDirs.create("graft_q341_")
      val src = root.resolve("src").toString
      val dst = root.resolve("dst").toString
      val ckp = root.resolve("ckp").toString
      TxLog.create(s, src, src0.filter(col("o_orderkey") % 5 <= 1))          // v0
      TxLog.append(s, src, src0.filter(col("o_orderkey") % 5 === 2))         // v1
      def replicate(): Unit = {
        val q = s.readStream.format("graft_txlog").load(src)
          .writeStream.format("graft_txlog")
          .option("mode", "cdc").option("keys", "o_orderkey")
          .option("streamId", "replica").option("checkpointLocation", ckp)
          .trigger(Trigger.AvailableNow()).start(dst)
        require(q.awaitTermination(300000), "graft_txlog replica did not drain")
      }
      replicate() // bootstrap: snapshot@v1
      // one resumed advance carrying an update + a delete + an append
      TxLog.upsert(s, src, src0.filter(col("o_orderkey") % 10 === 1)
        .withColumn("cents", col("cents") + 7), Seq("o_orderkey"))           // v2 COW
      TxLog.deleteRows(s, src,
        col("o_orderkey") % 5 === 2 && col("o_orderkey") % 3 === 0)          // v3 dv
      TxLog.append(s, src, src0.filter(col("o_orderkey") % 5 === 3))         // v4
      val versionsBefore = TxLog.history(dst).length
      replicate()
      val oneCommit = TxLog.history(dst).length == versionsBefore + 1
      replicate() // caught up: nothing commits
      val quiet = TxLog.history(dst).length == versionsBefore + 1
      val r = TxLog.read(s, dst)
      val live = TxLog.read(s, src)
      val converged = RelCheck.multisetEquals(r, live)
      r.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("converged", lit(converged && oneCommit && quiet))
    }),

    // REPLICA ADVANCE, SERVE-SHAPED (the q267/q335 discipline): the
    // source (3 versions) and a bootstrapped replica stage ONCE per
    // (sf, fixture); the benched query copies the small replica table and
    // applies ONE advance draining the two unconsumed versions (an append
    // + a COW upsert) as one keyed commit — BENCH carries the per-advance
    // apply cost, while q341/q342 remain the lifecycle capstones
    "q343_replica_advance_serve" -> ((s, dir) => {
      import graft.io.TxLog
      val src0 = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val base = ensureServeArtifact("txreplica", dir, "orders") { p =>
        val src = s"$p/src"; val dst = s"$p/dst"
        TxLog.create(s, src, src0.filter(col("o_orderkey") % 3 <= 1))        // v0
        TxLog.replicate(s, src, dst, Seq("o_orderkey"), "serve")             // mark 0
        TxLog.append(s, src, src0.filter(col("o_orderkey") % 3 === 2))       // v1
        TxLog.upsert(s, src, src0.filter(col("o_orderkey") % 50 === 1)
          .withColumn("cents", col("cents") + 5), Seq("o_orderkey"))         // v2
      }
      // per-invocation: copy the replica (the advance mutates it), advance once
      val work = graft.io.TempDirs.create("graft_q343_")
      val dst = work.resolve("dst")
      val from = java.nio.file.Paths.get(s"$base/dst")
      java.nio.file.Files.walk(from).forEach { p =>
        val tgt = dst.resolve(from.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(tgt)
        else {
          java.nio.file.Files.createDirectories(tgt.getParent)
          java.nio.file.Files.copy(p, tgt)
          ()
        }
      }
      val before = TxLog.history(dst.toString).length
      val batches = TxLog.replicate(s, s"$base/src", dst.toString,
        Seq("o_orderkey"), "serve")
      val advanceOk = batches == 1 &&
        TxLog.history(dst.toString).length == before + 1
      TxLog.read(s, dst.toString).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("advance_ok", lit(advanceOk))
    }),

    // BRANCHES + WRITE-AUDIT-PUBLISH (the Iceberg ref model on the
    // TxLog): fork a ZERO-COPY branch (one manifest, no data movement —
    // branch manifests reference the root's shared segment dirs), write
    // the staging batch onto the branch (root readers see NOTHING), audit
    // the branch snapshot, then PUBLISH: one atomic manifest-only commit
    // on the root. Pins: isolation before publish, publish is exactly one
    // root commit with op publish_append (CDF-classifiable as inserts), a
    // re-publish with nothing new commits NOTHING, and the published
    // content equals branch head ≡ all orders
    "q344_txlog_branch_wap" -> ((s, dir) => {
      import graft.io.TxLog
      val src0 = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val root = graft.io.TempDirs.create("graft_q344_")
      val tbl = root.resolve("t").toString
      TxLog.create(s, tbl, src0.filter(col("o_orderkey") % 2 === 0))          // v0
      TxLog.createBranch(s, tbl, "staging")
      val br = TxLog.branchTable(tbl, "staging")
      TxLog.append(s, br, src0.filter(col("o_orderkey") % 2 === 1))
      val isolated = TxLog.latest(tbl).version == 0L &&                       // root unmoved
        TxLog.read(s, tbl).count() < TxLog.read(s, br).count()
      val pub = TxLog.publishBranch(s, tbl, "staging")
      val publishOk = pub.version == 1L && pub.op.startsWith("publish_append:") &&
        TxLog.publishBranch(s, tbl, "staging").version == 1L                  // noop re-publish
      TxLog.read(s, tbl).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("wap_ok", lit(isolated && publishOk))
    }),

    // TAGS + VACUUM PROTECTION (the Iceberg tag retention model): tag v0,
    // then rewrite + vacuum down to ONE retained version — the tagged
    // version falls below the retention floor (plain read(v0) refuses
    // loudly), yet readTagged still serves it because vacuum never
    // reclaims a live tag's artifacts. Output = the TAGGED snapshot
    // (pre-rewrite), with the floor-refusal and current-head-differs pins
    "q345_txlog_tag_travel" -> ((s, dir) => {
      import graft.io.TxLog
      val src0 = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val root = graft.io.TempDirs.create("graft_q345_")
      val tbl = root.resolve("t").toString
      TxLog.create(s, tbl, src0)                                              // v0
      TxLog.tagVersion(tbl, "baseline")                                       // -> v0
      TxLog.upsert(s, tbl, src0.filter(col("o_orderkey") % 10 === 3)
        .withColumn("cents", col("cents") + 7), Seq("o_orderkey"))            // v1
      TxLog.append(s, tbl, src0.filter(col("o_orderkey") % 10 === 3))         // v2
      TxLog.vacuum(s, tbl, retainVersions = 1)                                // v3, floor 2
      val floorRefuses = scala.util.Try(TxLog.read(s, tbl, 0L)).isFailure
      val headDiffers =
        TxLog.read(s, tbl).count() > TxLog.readTagged(s, tbl, "baseline").count()
      TxLog.readTagged(s, tbl, "baseline").groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("tag_ok", lit(floorRefuses && headDiffers))
    }),

    // CHECK CONSTRAINTS riding the log: the active set travels in every
    // manifest (zero extra log reads to enforce), writes validate their
    // fresh rows INSIDE the write scan (a violating append fails loudly
    // and commits NOTHING — no partial state), addConstraint validates
    // existing rows once, and dropping re-admits. Final content: base +
    // the clean append + the formerly-refused rows admitted post-drop
    "q346_txlog_check_constraint" -> ((s, dir) => {
      import graft.io.TxLog
      val src0 = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val root = graft.io.TempDirs.create("graft_q346_")
      val tbl = root.resolve("t").toString
      TxLog.create(s, tbl, src0.filter(col("o_orderkey") % 3 === 0))          // v0
      TxLog.addConstraint(s, tbl, "cents_nonneg", "cents >= 0")               // v1
      TxLog.append(s, tbl, src0.filter(col("o_orderkey") % 3 === 1))          // v2: passes
      val vBefore = TxLog.latest(tbl).version
      val refused = scala.util.Try(TxLog.append(s, tbl,
        src0.filter(col("o_orderkey") % 3 === 2)
          .withColumn("cents", -col("cents") - 1))).isFailure
      val nothingCommitted = TxLog.latest(tbl).version == vBefore
      val visible = TxLog.constraintsOf(tbl) == Map("cents_nonneg" -> "cents >= 0")
      TxLog.dropConstraint(s, tbl, "cents_nonneg")
      TxLog.append(s, tbl, src0.filter(col("o_orderkey") % 3 === 2)
        .withColumn("cents", -col("cents") - 1))                              // now admitted
      TxLog.read(s, tbl).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("check_ok", lit(refused && nothingCommitted && visible))
    }),

    // ATOMIC MULTI-TABLE PUBLISH: two tables stage their complements on
    // branches; ONE coordinator claim is the commit point, and the
    // roll-forward barrier (recoverAtomic) makes BOTH visible exactly
    // once — exercised here in its crash shape (intent recorded, nothing
    // applied, then recovered), the path that makes the atomicity claim
    // real. Pins: not-visible-before, both-at-v1-after, barrier idempotent
    "q348_txlog_atomic_publish" -> ((s, dir) => {
      import graft.io.TxLog
      val src0 = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val root = graft.io.TempDirs.create("graft_q348_")
      val ta = root.resolve("a").toString
      val tb = root.resolve("b").toString
      val coord = root.resolve("coord").toString
      TxLog.create(s, ta, src0.filter(col("o_orderkey") % 2 === 0))
      TxLog.create(s, tb, src0.filter(col("o_orderkey") % 3 === 0))
      TxLog.createBranch(s, ta, "stage")
      TxLog.createBranch(s, tb, "stage")
      TxLog.append(s, TxLog.branchTable(ta, "stage"),
        src0.filter(col("o_orderkey") % 2 === 1))
      TxLog.append(s, TxLog.branchTable(tb, "stage"),
        src0.filter(col("o_orderkey") % 3 =!= 0))
      // crash-shaped commit point: durable intent, nothing applied yet
      TxLog.store.putIfAbsent(coord, "txn-q348crash00.atomic",
        s"publish=$ta#stage\npublish=$tb#stage\n")
      val beforeA = TxLog.latest(ta).version
      val recovered = TxLog.recoverAtomic(s, coord)
      val atomicOk = recovered == Seq("q348crash00") && beforeA == 0L &&
        TxLog.latest(ta).version == 1L && TxLog.latest(tb).version == 1L &&
        TxLog.recoverAtomic(s, coord).isEmpty
      def agg(tbl: String, lbl: String) = TxLog.read(s, tbl)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("tbl", lit(lbl))
      agg(ta, "a").unionByName(agg(tb, "b"))
        .withColumn("atomic_ok", lit(atomicOk))
    }),

    // REFS ON THE PURE-SQL SURFACE: constraint-add → branch → stage →
    // publish → tag, all through CALL-style procedures; EXPLAIN pinned
    // inert (a procedure plan commits nothing), the publish op and the
    // tag's version pinned against the returned rows
    "q347_txlog_refs_sql" -> ((s, dir) => {
      import graft.io.TxLog
      org.apache.spark.sql.graft.GraftExtensions.registerTableFunctions(s)
      val src0 = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val root = graft.io.TempDirs.create("graft_q347_")
      val tbl = root.resolve("t").toString
      TxLog.create(s, tbl, src0.filter(col("o_orderkey") % 2 === 0))          // v0
      val inert = {
        val before = TxLog.history(tbl).length
        s.sql(s"EXPLAIN SELECT * FROM graft_txlog_constraint_add('$tbl', " +
          "'cents_nn', 'cents >= 0')").collect()
        TxLog.history(tbl).length == before
      }
      s.sql(s"SELECT * FROM graft_txlog_constraint_add('$tbl', 'cents_nn', " +
        "'cents >= 0')").collect()                                            // v1
      s.sql(s"SELECT * FROM graft_txlog_branch('$tbl', 'stage')").collect()
      TxLog.append(s, TxLog.branchTable(tbl, "stage"),
        src0.filter(col("o_orderkey") % 2 === 1))
      val pub = s.sql(s"SELECT * FROM graft_txlog_publish('$tbl', 'stage')").head()
      val tag = s.sql(s"SELECT * FROM graft_txlog_tag('$tbl', 'published')").head()
      val refsOk = inert && pub.getString(1).startsWith("publish_append:") &&
        tag.getLong(1) == pub.getLong(0)
      TxLog.read(s, tbl).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("refs_ok", lit(refsOk))
    }),

    // REPLICATION ON THE PURE-SQL SURFACE: graft_txlog_replicate drains
    // the source's change feed into an exactly-once CDC replica without a
    // streaming runtime — bootstrap is one snapshot batch, a trigger-
    // bounded drain applies upsert+delete+append as 3 keyed rewrites, a
    // caught-up call commits zero, EXPLAIN is inert, and the replica
    // exceptAll-equals the live source (all pinned; hash-oracled)
    "q342_txlog_replicate_sql" -> ((s, dir) => {
      import graft.io.TxLog
      org.apache.spark.sql.graft.GraftExtensions.registerTableFunctions(s)
      val src0 = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val root = graft.io.TempDirs.create("graft_q342_")
      val src = root.resolve("src").toString
      val dst = root.resolve("dst").toString
      TxLog.create(s, src, src0.filter(col("o_orderkey") % 4 <= 1))          // v0
      def call(extra: String = "") = s.sql(
        s"SELECT * FROM graft_txlog_replicate('$src', '$dst', 'o_orderkey', " +
          s"'sqlrep'$extra)").head()
      val r1 = call() // bootstrap: one snapshot batch
      TxLog.upsert(s, src, src0.filter(col("o_orderkey") % 8 === 1)
        .withColumn("cents", col("cents") + 11), Seq("o_orderkey"))          // v1 COW
      TxLog.deleteRows(s, src,
        col("o_orderkey") % 4 === 1 && col("o_orderkey") % 5 === 0)          // v2 dv
      TxLog.append(s, src, src0.filter(col("o_orderkey") % 4 === 2))         // v3
      val r2 = call(", 1") // bounded: one version per batch → 3 batches
      val r3 = call()      // caught up
      val batchesOk = r1.getLong(0) == 1L && r2.getLong(0) == 3L && r3.getLong(0) == 0L
      val before = TxLog.history(dst).length
      s.sql(s"EXPLAIN SELECT * FROM graft_txlog_replicate('$src', '$dst', " +
        "'o_orderkey', 'sqlrep')").collect()
      val explainInert = TxLog.history(dst).length == before
      val r = TxLog.read(s, dst)
      val live = TxLog.read(s, src)
      val converged = RelCheck.multisetEquals(r, live)
      r.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("batches_ok", lit(batchesOk))
        .withColumn("explain_inert", lit(explainInert))
        .withColumn("converged", lit(converged))
    }),

    // N-DIM OPTIMIZE (verdict r10 #8): three clustering dimensions ride
    // the Hilbert curve — content identity, scoped carry-verbatim, and
    // the q304 footer-skipping contract extended to the THIRD dim
    // (a selective readWhere on it equals the full-scan filter) all pinned
    "q339_txlog_optimize_ndim" -> ((s, dir) => {
      import graft.io.TxLog
      val src = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        col("o_orderpriority"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q339_").resolve("t").toString
      val mx = src.agg(max(col("o_orderkey"))).head().getLong(0)
      val dims = Seq("o_custkey", "cents", "o_orderkey")
      TxLog.create(s, tbl, src.filter(col("o_orderkey") <= mx / 2))              // v0
      TxLog.optimizeDims(s, tbl, dims, targetPartitions = 8)                     // v1 full
      val clustered = TxLog.latest(tbl).segments.toSet
      TxLog.append(s, tbl, src.filter(col("o_orderkey") > mx / 2))               // v2
      val v3 = TxLog.optimizeDims(s, tbl, dims, targetPartitions = 8, scoped = true) // v3
      val keptOk = clustered.forall(v3.segments.contains) &&
        v3.op == "optimize_zorder:o_custkey,cents,o_orderkey"
      // data skipping on the THIRD clustering dim
      val probeHi = (mx / 10).toDouble
      val whereOk = TxLog.readWhere(s, tbl, "o_orderkey", 1.0, probeHi).count() ==
        TxLog.read(s, tbl)
          .filter(col("o_orderkey") >= 1 && col("o_orderkey") <= probeHi).count()
      TxLog.read(s, tbl).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("n_versions", lit(TxLog.history(tbl).length.toLong))
        .withColumn("kept_verbatim_ok", lit(keptOk))
        .withColumn("where_ok", lit(whereOk))
    }),

    // FOLLOWER PROCEDURES ON THE PURE-SQL SURFACE (verdict r10 #6): the
    // CALL-style graft_txlog_follow_hnsw procedure advances the followed
    // index from plain SQL — bootstrap/advance/caught_up actions and
    // consumed versions pinned, EXPLAIN pinned inert (no commit), and the
    // followed graph's coverage pinned against the live corpus
    "q338_txlog_follow_sql" -> ((s, dir) => {
      import graft.io.TxLog
      import graft.ext.IndexFollower
      org.apache.spark.sql.graft.GraftExtensions.registerTableFunctions(s)
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") % 3 === 0)
      val root = graft.io.TempDirs.create("graft_q338_")
      val src = root.resolve("src").toString
      val idx = root.resolve("idx").toString
      TxLog.create(s, src, e.filter(col("vec_id") % 2 === 0))                // v0
      def call() = s.sql(s"SELECT * FROM graft_txlog_follow_hnsw('$src', '$idx', " +
        "'sqlann', 'vec_id', 'embedding', 4)").head()
      val r1 = call() // bootstrap
      TxLog.append(s, src, e.filter(col("vec_id") % 2 === 1))                // v1
      val r2 = call() // advance
      val r3 = call() // caught up
      val actionsOk = r1.getBoolean(0) && r1.getString(2) == "bootstrap" &&
        r1.getLong(1) == 0L &&
        r2.getBoolean(0) && r2.getString(2) == "advance" && r2.getLong(1) == 1L &&
        !r3.getBoolean(0) && r3.getString(2) == "caught_up" && r3.getLong(1) == 1L
      val before = TxLog.history(idx).length
      s.sql(s"EXPLAIN SELECT * FROM graft_txlog_follow_hnsw('$src', '$idx', " +
        "'sqlann', 'vec_id', 'embedding', 4)").collect()
      val explainInert = TxLog.history(idx).length == before
      val nodeIds = IndexFollower.nodesOf(TxLog.read(s, idx)).select(col("id"))
      val liveIds = e.select(col("vec_id").cast("long").as("id"))
      val coverageOk = RelCheck.multisetEquals(nodeIds, liveIds)
      e.groupBy((col("vec_id") % 10).as("bucket"))
        .agg(count(lit(1)).as("n_vecs"))
        .withColumn("actions_ok", lit(actionsOk))
        .withColumn("explain_inert", lit(explainInert))
        .withColumn("coverage_ok", lit(coverageOk))
    }),

    // SERVE-PATH gates for the followed tiers (verdict r10 #5, the q267
    // discipline): the follower runs its advances ONCE per (sf, fixture)
    // into a staged state table; the benched query only LOADS the state
    // and searches — so BENCH carries the per-query serve cost, not the
    // build-inclusive capstone harness (q326/q332/q333 remain the
    // lifecycle acceptance tests)
    "q335_follower_hnsw_serve" -> ((s, dir) => {
      import graft.ext.{GraphAnn, IndexFollower, Similarity}
      import graft.io.TxLog
      val cfg = GraphAnn.HnswConfig(m = 8, efConstruction = 96, efSearch = 128, shards = 4)
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val base = ensureServeArtifact("follower_hnsw", dir, "embeddings") { p =>
        val src = s"$p/src"; val state = s"$p/state"
        def follow() = IndexFollower.followIndex(s, src, state, "serve",
          "vec_id", "embedding", cfg)
        TxLog.create(s, src, e.filter(col("vec_id") % 3 =!= 2))
        follow()
        TxLog.upsert(s, src, e.filter(col("vec_id") % 40 === 1)
          .select(col("vec_id"), transform(col("embedding"), x => -x).as("embedding"))
          .unionByName(e.filter(col("vec_id") % 3 === 2)), Seq("vec_id"))
        TxLog.deleteRowsKeyed(s, src,
          e.filter(col("vec_id") % 50 === 9).select(col("vec_id")), Seq("vec_id"))
        follow()
      }
      val q = e.filter(col("vec_id") < 5)
      val res = IndexFollower.searchIndex(s, s"$base/state", q,
        "vec_id", "embedding", k = 10, cfg)
      val live = TxLog.read(s, s"$base/src")
      val brute = Similarity.bruteTopK(live, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10)
      val hits = res.join(brute.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("__n_hit"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("__n_hit"), lit(0L)) >= 5L).as("recall_ok"))
    }),

    "q336_follower_minhash_serve" -> ((s, dir) => {
      import graft.ext.{Dedup, IndexFollower}
      import graft.io.TxLog
      val docs = t(s, dir, "documents")
      val base = ensureServeArtifact("follower_minhash", dir, "documents") { p =>
        val src = s"$p/src"; val state = s"$p/state"
        def follow() = IndexFollower.followMinhashIndex(s, src, state, "serve",
          "doc_id", "text")
        TxLog.create(s, src, docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("text")))
        follow()
        TxLog.append(s, src, docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("text")))
        follow()
      }
      val batch = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      val ix = IndexFollower.minhashIndexOf(TxLog.read(s, s"$base/state"))
      sourcePairContract(batch,
        Dedup.ingestNearDupPairs(batch, "doc_id", "text", ix, threshold = 0.8))
    }),

    "q337_follower_ivfpq_serve" -> ((s, dir) => {
      import graft.ext.{IndexFollower, Similarity}
      import graft.io.TxLog
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.l2normalized(col("embedding")).as("embedding"))
      val base = ensureServeArtifact("follower_ivfpq", dir, "embeddings") { p =>
        val src = s"$p/src"; val state = s"$p/state"
        def follow() = IndexFollower.followIvfPq(s, src, state, "serve",
          "vec_id", "embedding",
          Similarity.IvfConfig(nlist = 32, nprobe = 16),
          Similarity.PqConfig(m = 8, ksub = 32), retrainGrowth = 100.0)
        TxLog.create(s, src, e.filter(col("vec_id") % 3 =!= 2))
        follow()
        TxLog.append(s, src, e.filter(col("vec_id") % 3 === 2))
        follow() // append-shaped advance
      }
      val q = e.filter(col("vec_id") < 5)
      val res = IndexFollower.searchFollowedIvfPq(s, s"$base/state", q,
        "vec_id", "embedding", k = 10, nprobe = 16, rerank = 300)
      val live = TxLog.read(s, s"$base/src")
      val brute = Similarity.bruteTopK(live, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10)
      val hits = res.join(brute.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("__n_hit"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("__n_hit"), lit(0L)) >= 5L).as("recall_ok"))
    }),

    // STREAMING-SOURCE ADAPTER (verdict r9 #8): a TxLog table drained into
    // another through bounded micro-batches — maxVersionsPerTrigger=2 over
    // 5 source versions = exactly 3 batches (initial snapshot + two CDF
    // slices, pinned), a second drain is a caught-up 0 (pinned), and the
    // destination's content equals the source (hash-oracled)
    "q330_txlog_change_stream" -> ((s, dir) => {
      import graft.io.TxLog
      val src0 = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val root = graft.io.TempDirs.create("graft_q330_")
      val src = root.resolve("src").toString
      val dst = root.resolve("dst").toString
      TxLog.create(s, src, src0.filter(col("o_orderkey") % 5 === 0))        // v0
      (1 to 4).foreach(i =>
        TxLog.append(s, src, src0.filter(col("o_orderkey") % 5 === i)))     // v1..v4
      def drain() = TxLog.changeStream(s, src, dst, "pipe", maxVersionsPerTrigger = 2)(
        feed => feed.filter(col("_change_type") === "insert")
          .select(col("o_orderkey"), col("o_orderpriority"), col("cents")))
      val n1 = drain()
      val n2 = drain()
      val batchesOk = n1 == 3 && n2 == 0
      TxLog.read(s, dst).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
        .withColumn("batches_ok", lit(batchesOk))
        .withColumn("n_dst_versions", lit(TxLog.history(dst).length.toLong))
    }),

    // THE TXLOG WRITE SURFACE IN PURE SQL (verdict r9 #6): MERGE, COW
    // delete and RESTORE run entirely through spark.sql CALL-style table
    // functions; EXPLAIN of a procedure commits NOTHING (the command-node
    // discipline, pinned); final content read back through the graft_txlog
    // TVF and hash-oracled
    "q331_txlog_sql_writes" -> ((s, dir) => {
      import graft.io.TxLog
      org.apache.spark.sql.graft.GraftExtensions.registerTableFunctions(s)
      val src = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q331_").resolve("t").toString
      TxLog.create(s, tbl, src)                                             // v0
      src.filter(col("o_orderkey") % 10 === 3).select(col("o_orderkey"))
        .createOrReplaceTempView("q331_delta")
      val m = s.sql(s"SELECT * FROM graft_txlog_merge('$tbl', " +
        "'SELECT o_orderkey FROM q331_delta', 'o_orderkey', 'cents = cents + 1')").head()
      val mergeOk = m.getLong(0) == 1L && m.getString(1).startsWith("merge")  // v1
      s.sql(s"SELECT * FROM graft_txlog_delete('$tbl', 'o_orderkey % 30 = 4')")
        .collect()                                                            // v2
      val r = s.sql(s"SELECT * FROM graft_txlog_restore('$tbl', 1)").head()  // v3
      val restoreOk = r.getString(1) == "restore:v=1"
      val before = TxLog.history(tbl).length
      s.sql(s"EXPLAIN SELECT * FROM graft_txlog_vacuum('$tbl', 2)").collect()
      val explainInert = TxLog.history(tbl).length == before
      s.sql(s"SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_live, " +
          s"CAST(sum(cents) AS BIGINT) AS sum_cents FROM graft_txlog('$tbl') GROUP BY 1")
        .withColumn("merge_ok", lit(mergeOk))
        .withColumn("restore_ok", lit(restoreOk))
        .withColumn("explain_inert", lit(explainInert))
        .withColumn("n_versions", lit(TxLog.history(tbl).length.toLong))
    }),

    // TXLOG ON THE PURE-SQL SURFACE: the injected TABLE-VALUED functions
    // — graft_txlog(path[, version]) and graft_txlog_changes(path, from)
    // — resolve to the read's own logical plan, so a SQL user gets
    // snapshot isolation, dv application, time travel, and the CDF with
    // ordinary Catalyst pushdown and no bespoke physical source. The gate
    // groups the live table THROUGH spark.sql, re-derives the v0 count
    // and the CDF delete count through the TVFs, and hash-oracles it all
    "q325_txlog_sql_tvf" -> ((s, dir) => {
      import graft.io.TxLog
      org.apache.spark.sql.graft.GraftExtensions.registerTableFunctions(s)
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q325_").resolve("t").toString
      TxLog.create(s, tbl, src.filter(col("o_orderkey") % 2 === 0))   // v0
      TxLog.append(s, tbl, src.filter(col("o_orderkey") % 2 === 1))   // v1
      TxLog.deleteRows(s, tbl, col("o_orderkey") % 21 === 6)          // v2 (dv)
      val nV0 = s.sql(s"SELECT count(*) FROM graft_txlog('$tbl', 0)")
        .head().getLong(0)
      val nDel = s.sql(s"SELECT count(*) FROM graft_txlog_changes('$tbl', 1) " +
        "WHERE _change_type = 'delete'").head().getLong(0)
      s.sql(s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_live,
        CAST(sum(cents) AS BIGINT) AS sum_cents
        FROM graft_txlog('$tbl') GROUP BY 1""")
        .withColumn("n_v0", lit(nV0))
        .withColumn("n_cdf_deletes", lit(nDel))
        .withColumn("n_versions", lit(TxLog.history(tbl).length.toLong))
    }),

    // TARGETED VECTOR MATERIALIZATION + VACUUM DRY RUN: tombstones land
    // on two of three segments; materializeVectors rewrites exactly those
    // two (the clean one carries forward verbatim, pinned), clears the
    // vectors (protocol back to 1, pinned), emits no CDF rows (pinned);
    // the dry run's would-drop set then matches what vacuum really drops
    // (pinned). Live table + metadata count hash-oracled
    "q324_txlog_materialize" -> ((s, dir) => {
      import graft.io.{PosixLogStore, TxLog}
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q324_").resolve("t").toString
      val mx = src.agg(max(col("o_orderkey"))).head().getLong(0)
      val third = mx / 3
      TxLog.create(s, tbl, src.filter(col("o_orderkey") <= third))          // v0
      TxLog.append(s, tbl,
        src.filter(col("o_orderkey") > third && col("o_orderkey") <= 2 * third)) // v1
      TxLog.append(s, tbl, src.filter(col("o_orderkey") > 2 * third))       // v2
      val v2 = TxLog.latest(tbl)
      TxLog.deleteRows(s, tbl,
        col("o_orderkey") % 11 === 5 && col("o_orderkey") <= 2 * third)     // v3 (dv)
      val m = TxLog.materializeVectors(s, tbl)                              // v4
      val matOk = m.op == "materialize_dv:2" && m.dvs.isEmpty &&
        m.segments.contains(v2.segments(2)) &&
        PosixLogStore.read(tbl, f"${m.version}%08d.commit").contains("protocol=1")
      val feedEmpty = TxLog.changeFeed(s, tbl, m.version - 1).isEmpty
      val (_, wouldDrop) = TxLog.vacuumDryRun(tbl, retainVersions = 2)
      TxLog.vacuum(s, tbl, retainVersions = 2)                              // v5
      val dryRunOk = wouldDrop.nonEmpty &&
        wouldDrop.forall(d => !new java.io.File(tbl, d).exists())
      val fc = TxLog.fastCount(tbl)
      TxLog.read(s, tbl).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_live"), sum(col("cents")).as("sum_cents"))
        .withColumn("fast_count", lit(fc.getOrElse(-1L)))
        .withColumn("materialize_ok", lit(matOk))
        .withColumn("feed_empty", lit(feedEmpty))
        .withColumn("dry_run_ok", lit(dryRunOk))
        .withColumn("n_versions", lit(TxLog.history(tbl).length.toLong))
    }),

    // MERGE INTO as one COW commit: matched rows update (cents += bump)
    // or delete (the kill predicate), unmatched source rows insert — all
    // source keys live in the first key-range half, so the second half's
    // segment carries forward verbatim (pinned). The keyed change feed
    // classifies the whole merge; its three counts are hash-checked
    "q322_txlog_merge" -> ((s, dir) => {
      import graft.io.TxLog
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q322_").resolve("t").toString
      val mx = src.agg(max(col("o_orderkey"))).head().getLong(0)
      TxLog.create(s, tbl, src.filter(col("o_orderkey") <= mx / 2))   // v0
      TxLog.append(s, tbl, src.filter(col("o_orderkey") > mx / 2))    // v1
      val before = TxLog.latest(tbl)
      val matchedSrc = src
        .filter(col("o_orderkey") % 10 === 0 && col("o_orderkey") <= mx / 2)
        .withColumn("bump", lit(1L))
        .withColumn("kill", col("o_orderkey") % 40 === 0)
      val insertSrc = src
        .filter(col("o_orderkey") % 10 === 3 && col("o_orderkey") <= mx / 2)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10L) * mx)
        .withColumn("bump", lit(0L))
        .withColumn("kill", lit(false))
      val snap = TxLog.merge(s, tbl, matchedSrc.unionByName(insertSrc),
        Seq("o_orderkey"),
        whenMatchedSet = Map("cents" -> (col("cents") + col("src_bump"))),
        whenMatchedDelete = Some(col("src_kill")))
      val keptOk = snap.segments.contains(before.segments(1))
      val cdf = TxLog.changeFeed(s, tbl, snap.version - 1)
        .groupBy(col("_change_type")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      TxLog.read(s, tbl).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_live"), sum(col("cents")).as("sum_cents"))
        .withColumn("n_cdf_updates", lit(cdf.getOrElse("update_postimage", 0L)))
        .withColumn("n_cdf_deletes", lit(cdf.getOrElse("delete", 0L)))
        .withColumn("n_cdf_inserts", lit(cdf.getOrElse("insert", 0L)))
        .withColumn("kept_ok", lit(keptOk))
        .withColumn("n_versions", lit(TxLog.history(tbl).length.toLong))
    }),

    // RESTORE: the bad-deploy undo as a PURE manifest commit — a bad
    // upsert and a bad delete roll back with zero data movement, history
    // stays time-travelable, and the restore's own change feed is the
    // classified undo (reverted updates + resurrected deletes) with both
    // counts hash-checked
    "q323_txlog_restore" -> ((s, dir) => {
      import graft.io.TxLog
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q323_").resolve("t").toString
      TxLog.create(s, tbl, src.filter(col("o_orderkey") % 2 === 0))   // v0
      TxLog.append(s, tbl, src.filter(col("o_orderkey") % 2 === 1))   // v1 = good
      TxLog.upsert(s, tbl, src.filter(col("o_orderkey") % 20 === 0)
        .withColumn("cents", col("cents") + 100), Seq("o_orderkey"))  // v2 = bad
      TxLog.delete(s, tbl, col("o_orderkey") % 9 === 4)               // v3 = bad
      val dataDirs = new java.io.File(tbl, "data").listFiles().length
      val snap = TxLog.restore(s, tbl, 1L)                            // v4
      val noDataMoved =
        new java.io.File(tbl, "data").listFiles().length == dataDirs &&
          snap.op == "restore:v=1"
      val histOk = TxLog.read(s, tbl, 3L).count() ==
        src.filter(col("o_orderkey") % 9 =!= 4).count()
      val fastOk = TxLog.fastCount(tbl).contains(src.count())
      val cdf = TxLog.changeFeed(s, tbl, 3L, 4L)
        .groupBy(col("_change_type")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      TxLog.read(s, tbl).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_live"), sum(col("cents")).as("sum_cents"))
        .withColumn("n_undo_inserts", lit(cdf.getOrElse("insert", 0L)))
        .withColumn("n_undo_deletes", lit(cdf.getOrElse("delete", 0L)))
        .withColumn("no_data_moved", lit(noDataMoved))
        .withColumn("history_intact", lit(histOk))
        .withColumn("fast_count_ok", lit(fastOk))
        .withColumn("n_versions", lit(TxLog.history(tbl).length.toLong))
    }),

    // METADATA-ONLY COUNT(*): manifests record each segment's footer row
    // count and each deletion vector's per-segment dead-row counts, so
    // the live count is driver-side arithmetic — exact through a dv
    // delete AND a COW rewrite (which materializes its own segment's
    // tombstones). fast_count is hash-checked against the oracle's count
    // and pinned equal to the actual scan
    "q321_txlog_fast_count" -> ((s, dir) => {
      import graft.io.TxLog
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q321_").resolve("t").toString
      TxLog.create(s, tbl, src.filter(col("o_orderkey") % 2 === 0))   // v0
      TxLog.append(s, tbl, src.filter(col("o_orderkey") % 2 === 1))   // v1
      TxLog.deleteRows(s, tbl, col("o_orderkey") % 13 === 2)          // v2 (dv)
      TxLog.upsert(s, tbl,
        src.filter(col("o_orderkey") % 40 === 0 && col("o_orderkey") % 13 =!= 2)
          .withColumn("cents", col("cents") + 1), Seq("o_orderkey"))  // v3 (COW)
      val fc = TxLog.fastCount(tbl)
      val scanCount = TxLog.read(s, tbl).count()
      TxLog.read(s, tbl).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_live"), sum(col("cents")).as("sum_cents"))
        .withColumn("fast_count", lit(fc.getOrElse(-1L)))
        .withColumn("fast_equals_scan", lit(fc.contains(scanCount)))
        .withColumn("n_versions", lit(TxLog.history(tbl).length.toLong))
    }),

    // DELETION VECTORS (merge-on-read): a scattered delete — one that
    // touches rows in EVERY segment, the GDPR-erasure shape copy-on-write
    // cannot do cheaply — records (file, row) tombstone positions instead
    // of rewriting anything: segments provably unchanged (pinned), the
    // manifest claims protocol 2 while vectors are present (pinned from
    // the raw commit text), reads and the change feed apply/emit exactly
    // the dead rows (delete count hash-checked), a slice-local COW upsert
    // materializes ONLY its own segment's tombstones (the others' vectors
    // survive, pinned), and a full compaction materializes the rest —
    // vectors empty, protocol back to 1 (pinned). Live table hash-oracled
    "q320_txlog_deletion_vectors" -> ((s, dir) => {
      import graft.io.{PosixLogStore, TxLog}
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q320_").resolve("t").toString
      val mx = src.agg(max(col("o_orderkey"))).head().getLong(0)
      val third = mx / 3
      TxLog.create(s, tbl, src.filter(col("o_orderkey") <= third))           // v0
      TxLog.append(s, tbl,
        src.filter(col("o_orderkey") > third && col("o_orderkey") <= 2 * third)) // v1
      TxLog.append(s, tbl, src.filter(col("o_orderkey") > 2 * third))        // v2
      val v2 = TxLog.latest(tbl)
      val dv = TxLog.deleteRows(s, tbl, col("o_orderkey") % 17 === 3)        // v3
      val dvOk = dv.segments == v2.segments && dv.dvs.nonEmpty &&
        PosixLogStore.read(tbl, f"${dv.version}%08d.commit").contains("protocol=2")
      val nDeleted = TxLog.changeFeed(s, tbl, dv.version - 1, dv.version)
        .filter(col("_change_type") === "delete").count()
      // slice-local COW upsert: slices 2 and 3 keep their segments AND
      // their tombstone vectors; slice 1's vector entry materializes away
      TxLog.upsert(s, tbl,
        src.filter(col("o_orderkey") <= third && col("o_orderkey") % 20 === 0 &&
          col("o_orderkey") % 17 =!= 3)
          .withColumn("cents", col("cents") + 1), Seq("o_orderkey"))         // v4
      val v4 = TxLog.latest(tbl)
      val cowKeptDvs = v4.segments.contains(v2.segments(1)) &&
        v4.segments.contains(v2.segments(2)) &&
        v4.dvs.values.flatMap(_.keys).toSet == Set(v2.segments(1), v2.segments(2))
      val comp = TxLog.compact(s, tbl, 4)                                    // v5
      val materialized = comp.dvs.isEmpty &&
        PosixLogStore.read(tbl, f"${comp.version}%08d.commit").contains("protocol=1")
      TxLog.read(s, tbl).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_live"), sum(col("cents")).as("sum_cents"))
        .withColumn("n_cdf_deletes", lit(nDeleted))
        .withColumn("dv_ok", lit(dvOk))
        .withColumn("cow_kept_dvs", lit(cowKeptDvs))
        .withColumn("materialized_ok", lit(materialized))
        .withColumn("n_versions", lit(TxLog.history(tbl).length.toLong))
    }),

    // STRING-COLUMN DATA SKIPPING: manifests record utf8-ordered [min,max]
    // envelopes for string columns too, so a doc-id-keyed table (THE
    // corpus-pipeline shape) gets the same manifest arithmetic as numeric
    // keys: a string-keyed COW upsert keeps out-of-range segments verbatim
    // (pinned), a fully-covered string range delete drops its segment as a
    // pure manifest edit (pinned via the op's tier split), and a string
    // range read scans only the intersecting segment (pinned + the slice
    // count hash-checked). Live table hash-oracled end to end
    "q319_txlog_string_skipping" -> ((s, dir) => {
      import graft.io.TxLog
      val src = t(s, dir, "documents").select(
        concat(lit("doc-"), lpad(col("doc_id").cast("string"), 8, "0")).as("k"),
        col("doc_id"), col("source"), col("n_chars"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q319_").resolve("t").toString
      val mx = src.agg(max(col("doc_id"))).head().getLong(0)
      val third = mx / 3
      def key(n: Long) = f"doc-$n%08d"
      TxLog.create(s, tbl, src.filter(col("doc_id") <= third))          // v0
      TxLog.append(s, tbl,
        src.filter(col("doc_id") > third && col("doc_id") <= 2 * third)) // v1
      TxLog.append(s, tbl, src.filter(col("doc_id") > 2 * third))        // v2
      val v2segs = TxLog.latest(tbl).segments
      // STRING-keyed COW upsert of ten slice-2 keys: slices 1 and 3 are
      // out of the touch range by manifest arithmetic — kept verbatim
      TxLog.upsert(s, tbl,
        src.filter(col("doc_id") > third && col("doc_id") <= third + 10)
          .withColumn("n_chars", col("n_chars") + 1), Seq("k"))          // v3
      val v3 = TxLog.latest(tbl)
      val cowKept = v3.segments.contains(v2segs.head) &&
        v3.segments.contains(v2segs(2))
      // string range delete covering slice 1 exactly: metadata-only drop
      val d = TxLog.deleteWhereStr(s, tbl, "k", key(0), key(third))      // v4
      val tiersOk = d.op.contains(";dropped=1;rewritten=0")
      // string range read of slice 3: one segment scanned, one skipped
      val (scanned, skipped) =
        TxLog.prunedSegmentsStr(tbl, "k", key(2 * third + 1), key(mx))
      val nSlice3 = TxLog.readWhereStr(s, tbl, "k", key(2 * third + 1), key(mx)).count()
      TxLog.read(s, tbl).groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .withColumn("n_slice3", lit(nSlice3))
        .withColumn("cow_kept", lit(cowKept))
        .withColumn("tiers_ok", lit(tiersOk))
        .withColumn("pruned_ok", lit(scanned.size == 1 && skipped.size == 1))
        .withColumn("n_versions", lit(TxLog.history(tbl).length.toLong))
    }),

    // RETRACTION-CAPABLE FOLLOWER: the exactly-once incremental consumer
    // absorbs source REWRITE commits instead of refusing them — the CDF's
    // insert/update_postimage rows merge positively, delete/update_preimage
    // rows merge negated (linear aggregates), and a bucket whose count
    // reaches zero LEAVES the state, so the follower tracks the
    // from-scratch aggregate through an upsert AND a bucket-emptying
    // delete, still touched-volume-sized per call. Final state hash-oracled
    "q317_txlog_follow_retract" -> ((s, dir) => {
      import graft.io.TxLog
      val src0 = t(s, dir, "orders").select(col("o_orderkey"),
        (col("o_orderkey") % 100).as("bucket"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val root = graft.io.TempDirs.create("graft_txlog_q317_")
      val srcTbl = root.resolve("src").toString
      val dstTbl = root.resolve("dst").toString
      def aggOf(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
      def follow() = TxLog.followAggregate(s, srcTbl, dstTbl, "c",
        Seq("bucket"), retractWith = Some("n_orders"))(aggOf)
      TxLog.create(s, srcTbl, src0.filter(col("o_orderkey") % 2 === 0))   // v0
      TxLog.append(s, srcTbl, src0.filter(col("o_orderkey") % 4 === 1))   // v1
      val f1 = follow()
      TxLog.upsert(s, srcTbl, src0.filter(col("o_orderkey") % 20 === 0)
        .withColumn("cents", col("cents") + 1), Seq("o_orderkey"))        // v2
      // bucket 5 is wholly k%4==1 rows (100 ≡ 0 mod 4): this empties it
      TxLog.delete(s, srcTbl, col("o_orderkey") % 100 === 5)              // v3
      val f2 = follow()
      TxLog.append(s, srcTbl, src0.filter(col("o_orderkey") % 4 === 3))   // v4
      val f3 = follow()
      val skipped = !follow()
      TxLog.read(s, dstTbl)
        .withColumn("advanced_ok", lit(f1 && f2 && f3))
        .withColumn("caught_up_skipped", lit(skipped))
        .withColumn("n_src_versions", lit(TxLog.history(srcTbl).length.toLong))
    }),

    // ROUND-9 LAKEHOUSE CAPSTONE: every new TxLog capability composed as
    // ONE lifecycle (the q303 discipline) — exactly-once stream ingest
    // with a pinned replay skip, a COPY-ON-WRITE upsert that provably
    // keeps all three stream segments verbatim, the FULL-CDF feed whose
    // classified counts must reconcile with the source, deterministic
    // timestamp time travel to the pre-upsert version, a COW delete,
    // size-tiered compaction keeping the big segment, and an orphan-
    // sweeping vacuum — one output relation, one composed DuckDB oracle
    "q315_lakehouse_cow_capstone" -> ((s, dir) => {
      import graft.io.{PosixLogStore, TxLog, TxLogOps}
      val ticks = new java.util.concurrent.atomic.AtomicLong(0L)
      val ops = new TxLogOps(PosixLogStore, clock = () => ticks.addAndGet(1000L))
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), round(col("o_totalprice") * 100).cast("long").as("cents"))
      val tbl = graft.io.TempDirs.create("graft_txlog_q315_").resolve("t").toString
      ops.create(s, tbl, src.filter(col("o_orderkey") % 2 === 0))          // v0 ts=1000
      // exactly-once micro-batch ingest of the odd keys, three slices
      Seq(1L, 3L, 5L).zipWithIndex.foreach { case (m, i) =>
        ops.appendStreamBatch(s, tbl,
          src.filter(col("o_orderkey") % 6 === m), "cap", i.toLong); ()    // v1..v3
      }
      val replaySkipped = !ops.appendStreamBatch(s, tbl,
        src.filter(col("o_orderkey") % 6 === 1), "cap", 0L)
      val v3 = ops.latest(tbl)
      // COW upsert: every update key is EVEN — only the create segment moves
      ops.upsert(s, tbl, src.filter(col("o_orderkey") % 20 === 0)
        .withColumn("cents", col("cents") + 1), Seq("o_orderkey"))         // v4 ts=5000
      val v4 = ops.latest(tbl)
      val cowKept = v3.segments.count(v4.segments.contains) == 3
      // full CDF over (0, 4]: inserts = the three odd slices, the upsert
      // classifies as balanced pre/postimage pairs over the matched keys
      val nOdd = src.filter(col("o_orderkey") % 2 === 1).count()
      val nUpd = src.filter(col("o_orderkey") % 20 === 0).count()
      val cdfCounts = ops.changeFeed(s, tbl, 0L, 4L)
        .groupBy(col("_change_type")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val cdfOk = cdfCounts.get("insert").contains(nOdd) &&
        cdfCounts.get("update_preimage").contains(nUpd) &&
        cdfCounts.get("update_postimage").contains(nUpd) &&
        !cdfCounts.contains("delete")
      // deterministic timestamp travel: 4500 lands strictly between v3
      // (ts=4000) and the upsert (ts=5000) — the pre-upsert table
      val tsOk = ops.versionAt(tbl, 4500L) == 3L &&
        ops.readAsOf(s, tbl, 4500L).count() == src.count()
      ops.delete(s, tbl, col("o_orderkey") % 30 === 1)                     // v5 (COW)
      // size-tiered compaction: the three small odd segments pack, the
      // big even segment carries forward verbatim
      val evenSeg = ops.latest(tbl).segments
        .find(seg => v4.segments.contains(seg) && !v3.segments.contains(seg)).get
      def segBytes(seg: String): Long = {
        def walk(f: java.io.File): Long =
          if (f.isFile) f.length()
          else Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
        walk(new java.io.File(tbl, seg))
      }
      val packed = ops.compactSmall(s, tbl, smallBytes = segBytes(evenSeg)) // v6
      val packedOk = packed.op == "compact_small:3" &&
        packed.segments.size == 2 && packed.segments.contains(evenSeg)
      // orphan-sweeping vacuum (real clock: the aged orphan predates it)
      val aged = new java.io.File(tbl, "data/orphan_crashed")
      aged.mkdirs()
      val past = System.currentTimeMillis() - 600000L
      aged.setLastModified(past)
      TxLog.vacuum(s, tbl, retainVersions = 2, orphanAgeMs = 60000L)       // v7
      val orphanSwept = !aged.exists()
      val floorOk = TxLog.retentionFloor(tbl) == 6L &&
        scala.util.Try(TxLog.read(s, tbl, 4L)).isFailure
      TxLog.read(s, tbl).groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_live"), sum(col("cents")).as("sum_cents"))
        .withColumn("n_versions", lit(TxLog.history(tbl).length.toLong))
        .withColumn("replay_skipped", lit(replaySkipped))
        .withColumn("cow_kept_streams", lit(cowKept))
        .withColumn("cdf_ok", lit(cdfOk))
        .withColumn("ts_travel_ok", lit(tsOk))
        .withColumn("packed_ok", lit(packedOk))
        .withColumn("orphan_swept", lit(orphanSwept))
        .withColumn("floor_ok", lit(floorOk))
    }),

    // INCREMENTAL SQ ingest (the last vector-index tier to get an `add`
    // path): new vectors quantize against the TRAINED per-dim bounds with
    // a measured clamp-fraction drift gate — recall contract over the
    // post-ingest corpus, plus pinned booleans for coverage and for the
    // loud refusal of a genuinely drifted batch
    "q311_knn_sq_ingest" -> ((s, dir) => {
      import graft.ext.{Similarity, VectorOps}
      val e = t(s, dir, "embeddings")
      val base = e.filter(col("vec_id") % 5 =!= 0)
      val fresh = e.filter(col("vec_id") % 5 === 0)
      val (idx, clamped, total) = VectorOps.ingestSq(
        VectorOps.buildSqIndex(base, "vec_id", "embedding"),
        fresh, "vec_id", "embedding")
      val coverageOk = idx.codes.count() == e.count() && clamped <= total
      val drifted = fresh.select(col("vec_id") + lit(1000000L) as "vec_id",
        transform(col("embedding"), x => x * lit(100.0f)).as("embedding"))
      val driftRefused = scala.util.Try(
        VectorOps.ingestSq(idx, drifted, "vec_id", "embedding")).isFailure
      val q = e.filter(col("vec_id") < 5)
      val approx = VectorOps.searchSq(idx, e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10, rerank = 100)
      val brute = Similarity.bruteTopK(e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10)
      val hits = approx.join(brute.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("__n_hit"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("__n_hit"), lit(0L)) >= 5L).as("recall_ok"),
          lit(coverageOk).as("coverage_ok"),
          lit(driftRefused).as("drift_refused"))
    }),

    // INCREMENTAL IVF-PQ ingest (FAISS `add`): the batch assigns to its
    // nearest EXISTING centroid and encodes with the EXISTING codebook —
    // two appended relations, never a corpus re-index. Pins the recall
    // contract over the post-ingest corpus plus full-coverage booleans
    // (every id present in both grown artifacts)
    "q307_knn_ivfpq_ingest" -> ((s, dir) => {
      import graft.ext.Similarity
      val e = t(s, dir, "embeddings")
        .withColumn("embedding", Similarity.l2normalized(col("embedding")))
      val base = e.filter(col("vec_id") < 400)
      val batch = e.filter(col("vec_id") >= 400)
      val (ivf0, pq0) = Similarity.buildIvfPq(base, "vec_id", "embedding",
        Similarity.IvfConfig(nlist = 32, nprobe = 16),
        Similarity.PqConfig(m = 8, ksub = 32))
      val (ivfI, pqI) = Similarity.ingestIvfPq(ivf0, pq0, batch, "vec_id", "embedding")
      // assigned/codes feed BOTH the size pins and the search below —
      // materialize each once instead of re-running the KMeans transform +
      // PQ encode per consumer; the two size counts collapse to one action
      // (r11, guide §2.4 / §5). The two materializations and the corpus
      // count are INDEPENDENT jobs, so they run concurrently from driver
      // threads (guide §2.6) — combined wall ~max, not sum
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      val (ivf, pq, n) = try {
        val fA = Future(ivfI.assigned.localCheckpoint())
        val fC = Future(pqI.codes.localCheckpoint())
        val fN = Future(e.count())
        (Similarity.IvfIndex(Await.result(fA, Duration.Inf), ivfI.centroids),
          Similarity.PqIndex(Await.result(fC, Duration.Inf), pqI.codebook),
          Await.result(fN, Duration.Inf))
      } finally pool.shutdown()
      val sizes = ivf.assigned.agg(count(lit(1)).as("__na"))
        .crossJoin(pq.codes.agg(count(lit(1)).as("__nc"))).head()
      val sizesOk = sizes.getLong(0) == n && sizes.getLong(1) == n
      val q = e.filter(col("vec_id") < 5)
      val approx = Similarity.searchIvfPq(ivf, pq, e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10, nprobe = 16, rerank = 300)
      val brute = Similarity.bruteTopK(e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10)
      val hits = approx.join(brute.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("__n_hit"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("__n_hit"), lit(0L)) >= 5L).as("recall_ok"),
          lit(sizesOk).as("coverage_ok"))
    }),

    // LAKEHOUSE CAPSTONE: the whole TxLog tier composed as ONE lifecycle
    // (the q98/q261 discipline) — exactly-once stream ingest, incremental
    // state maintained AS a TxLog table from manifest deltas, pinned
    // merge-equals-rebuild, compaction, schema-evolving append, version
    // diff, vacuum with the floor at the compaction — one DuckDB oracle
    "q303_lakehouse_capstone" -> ((s, dir) => StreamGate.lakehouseCapstone(s, dir)),

    // FILTERED IVF-PQ — the 100 TB default tier gets allow-set parity
    // with the SQ (q158) and HNSW (q298) filtered paths: the predicate
    // semi-joins the cell assignment BEFORE ADC scoring (a distributed
    // join, so unlike the HNSW broadcast the allow-set can be corpus-
    // sized), and the recall contract runs vs brute force over the
    // FILTERED corpus
    "q302_knn_ivfpq_filtered" -> ((s, dir) => {
      import graft.ext.Similarity
      val e = t(s, dir, "embeddings")
        .withColumn("embedding", Similarity.l2normalized(col("embedding")))
      val q = e.filter(col("vec_id") < 5)
      val allow = e.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
      val (ivf, pq) = Similarity.buildIvfPq(e, "vec_id", "embedding",
        Similarity.IvfConfig(nlist = 32, nprobe = 16),
        Similarity.PqConfig(m = 8, ksub = 32))
      val approx = Similarity.searchIvfPq(ivf, pq, e, "vec_id", "embedding",
        q, "vec_id", "embedding", k = 10, nprobe = 16, rerank = 300,
        allowed = Some(allow))
      val brute = Similarity.bruteTopK(e.filter(col("vec_id") % 3 === 0),
        "vec_id", "embedding", q, "vec_id", "embedding", k = 10)
      val hits = approx.join(brute.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("__n_hit"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("__n_hit"), lit(0L)) >= 5L).as("recall_ok"))
    }),

    // INCREMENTAL HNSW ingest: the daily-embedding-batch path — the new
    // vectors route to shards and insert into the ADOPTED per-shard
    // graphs; the accumulated corpus is never re-indexed. Pins TWO
    // contracts: the inserted artifact is BYTE-IDENTICAL to a
    // from-scratch rebuild (monotone batch ids — the q253 mergeIndex
    // discipline), and recall@10 vs brute over the full post-ingest
    // corpus clears the q292 bar
    "q301_knn_hnsw_ingest" -> ((s, dir) => {
      import graft.ext.{GraphAnn, Similarity}
      val e = t(s, dir, "embeddings")
      val cfg = GraphAnn.HnswConfig(m = 8, efConstruction = 64, efSearch = 64, shards = 4)
      val inserted = GraphAnn.hnswInsert(
        GraphAnn.hnswBuild(e.filter(col("vec_id") < 400), "vec_id", "embedding", cfg),
        e.filter(col("vec_id") >= 400), "vec_id", "embedding", cfg)
      val rebuilt = GraphAnn.hnswBuild(e, "vec_id", "embedding", cfg)
      val mergeOk = RelCheck.multisetEquals(inserted, rebuilt)
      val q = e.filter(col("vec_id") < 5)
      val approx = GraphAnn.hnswQuery(inserted, q, "vec_id", "embedding", k = 10, cfg)
      val brute = Similarity.bruteTopK(e, "vec_id", "embedding", q, "vec_id", "embedding", k = 10)
      val hits = approx.join(brute.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("__n_hit"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("__n_hit"), lit(0L)) >= 5L).as("recall_ok"),
          lit(mergeOk).as("merge_equals_rebuild"))
    }),

    // FILTERED sharded-HNSW: the allow-set (vec_id % 3 = 0) gates result
    // collection while disallowed nodes keep routing the beam — recall
    // contract vs brute force over the FILTERED corpus (the q133 bar)
    "q298_knn_hnsw_filtered" -> ((s, dir) => {
      import graft.ext.{GraphAnn, Similarity}
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      val allow = e.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
      val cfg = GraphAnn.HnswConfig(m = 8, efConstruction = 64, efSearch = 96, shards = 4)
      val approx = GraphAnn.hnswQuery(
        GraphAnn.hnswBuild(e, "vec_id", "embedding", cfg),
        q, "vec_id", "embedding", k = 10, cfg, allowed = Some(allow))
      val brute = Similarity.bruteTopK(e.filter(col("vec_id") % 3 === 0),
        "vec_id", "embedding", q, "vec_id", "embedding", k = 10)
      val hits = approx.join(brute.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("__n_hit"))
      q.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          (coalesce(col("__n_hit"), lit(0L)) >= 5L).as("recall_ok"))
    }),
  )

  /** The q171 messy-HTML fixture (shared, modulo dialect casts, with the
    * DuckDB oracle). `&amp;lt;` tests unescape ordering: it must surface
    * as the literal string `&lt;`, not as `<`. */
  private val htmlFixtureSql: String =
    """concat(
      |  '<html><head><title>Doc ', CAST(doc_id AS STRING),
      |  '</title><style>p { color: red; }</style></head><body>',
      |  CASE WHEN doc_id % 4 = 0 THEN '<script>var x = 1 < 2 && doc;</script>' ELSE '' END,
      |  '<h1>Heading ', CAST(doc_id % 7 AS STRING), '</h1><p class="body">',
      |  text, '</p>',
      |  CASE WHEN doc_id % 3 = 0 THEN '<div>Tom &amp; Jerry &lt;3 &quot;quoted&quot; it&#39;s&nbsp;here &amp;lt;escaped</div>' ELSE '' END,
      |  '<!-- hidden ', CAST(doc_id AS STRING), ' --></body></html>')""".stripMargin

  /** The q165 messy-URL fixture: deterministic surface-form noise (shared
    * verbatim, modulo dialect casts, with the DuckDB oracle). */
  private val urlFixtureSql: String =
    """concat(
      |  CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END,
      |  CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END,
      |  'Site-', CAST(doc_id % 7 AS STRING), '.Example.COM',
      |  '/Articles/item-', CAST(doc_id % 40 AS STRING),
      |  CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,
      |  CASE WHEN doc_id % 5 = 0 THEN concat('?utm_source=feed&id=', CAST(doc_id % 11 AS STRING), '&utm_campaign=x')
      |       WHEN doc_id % 5 = 1 THEN concat('?id=', CAST(doc_id % 11 AS STRING), '&ref=tw')
      |       WHEN doc_id % 5 = 2 THEN '?utm_medium=em'
      |       ELSE '' END,
      |  CASE WHEN doc_id % 6 = 0 THEN '#Section-2' ELSE '' END)""".stripMargin

  // ---- DuckDB oracles ---------------------------------------------------

  private val statsSubquery =
    """SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS stat_n_chars,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS stat_n_tokens,
      |  length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS punct_cnt,
      |  length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit_cnt,
      |  length(text) - length(regexp_replace(text, '\s', '', 'g')) AS space_cnt
      |FROM documents""".stripMargin

  private val langScores = {
    def lst(ws: Seq[String]) = ws.map(w => s"'$w'").mkString("[", ", ", "]")
    TextStats.stopwords.toSeq.sortBy(_._1).map { case (code, words) =>
      s"CAST(len(list_intersect(list_distinct(string_split_regex(lower(trim(text)), '\\s+')), ${lst(words)})) AS DOUBLE) / ${words.size} AS s_$code"
    }.mkString(",\n  ")
  }

  private lazy val qualityOracle: String =
    s"""SELECT doc_id,
      |  (((LEAST(CAST(stat_n_tokens AS DOUBLE) / 20.0, 1.0) * (CASE WHEN stat_n_tokens > 5000 THEN 0.5 ELSE 1.0 END))
      |    * (CASE WHEN (CASE WHEN stat_n_tokens = 0 THEN 0.0 ELSE CAST(stat_n_chars - space_cnt AS DOUBLE) / CAST(stat_n_tokens AS DOUBLE) END) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END))
      |   * GREATEST(0.0, 1.0 - (CAST(punct_cnt AS DOUBLE) / GREATEST(stat_n_chars, 1)) * 4.0))
      |  * GREATEST(0.0, 1.0 - (CAST(digit_cnt AS DOUBLE) / GREATEST(stat_n_chars, 1)) * 2.0) AS quality_score
      |FROM ($statsSubquery)""".stripMargin

  private lazy val langIdOracle: String =
    s"""SELECT doc_id,
      |  CASE WHEN GREATEST(s_de, s_en, s_es, s_fr, s_zh) <= 0.0 THEN 'und'
      |       WHEN s_zh >= s_fr AND s_zh >= s_es AND s_zh >= s_en AND s_zh >= s_de THEN 'zh'
      |       WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
      |       WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
      |       WHEN s_en >= s_de THEN 'en' ELSE 'de' END AS lang_pred,
      |  GREATEST(s_de, s_en, s_es, s_fr, s_zh) AS lang_pred_score
      |FROM (SELECT doc_id,
      |  $langScores
      |FROM documents)""".stripMargin

  private lazy val phraseSearchOracle: String =
    """SELECT doc_id FROM documents
      |WHERE concat(' ',
      |    array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' '),
      |    ' ') LIKE '% table scan %'""".stripMargin

  /** q250's brute-force pair set; q251 ranks it. Same multiplicative-hash
    * point fixture as SparkEntry.geoPoints, radius 30000 (dist2 <= 9e8). */
  private lazy val geoPairsSql: String =
    """SELECT c.c_custkey, s.s_suppkey,
      |  (c.lat-s.lat)*(c.lat-s.lat) + (c.lon-s.lon)*(c.lon-s.lon) AS dist2
      |FROM (SELECT c_custkey,
      |        (c_custkey % 1048576)*2654435761 % 4294967296 % 1000000 AS lat,
      |        (c_custkey % 1048576)*1540483477 % 4294967296 % 1000000 AS lon
      |      FROM customer) c,
      |     (SELECT s_suppkey,
      |        (s_suppkey % 1048576)*2246822519 % 4294967296 % 1000000 AS lat,
      |        (s_suppkey % 1048576)*3266489917 % 4294967296 % 1000000 AS lon
      |      FROM supplier) s
      |WHERE (c.lat-s.lat)*(c.lat-s.lat) + (c.lon-s.lon)*(c.lon-s.lon)
      |  <= 900000000""".stripMargin

  private lazy val hashSplitOracle: String =
    """SELECT doc_id,
      |  substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS split_bucket,
      |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc' THEN 'train'
      |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents""".stripMargin

  private lazy val tokenCountOracle: String =
    """SELECT doc_id,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+')) AS BIGINT) AS bpe_ish_tokens
      |FROM documents""".stripMargin

  /** doc_id -> total PII hit count, shared by the q65/q86/q98 oracles. */
  private lazy val piiTotalsSub: String =
    s"""SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '${CorpusFilters.emailPattern}'))
      |     + len(regexp_extract_all(text, '${CorpusFilters.ipv4Pattern}'))
      |     + len(regexp_extract_all(text, '${CorpusFilters.phonePattern}')) AS BIGINT) AS pii_total
      |FROM documents""".stripMargin

  // repetition stats: unnest+zip exploded words, lead() bigrams, same
  // two-level agg as the engine (counts are BIGINT both sides; ratio
  // expression trees written identically for bit-equal doubles)
  // staged-min-ts funnel, 24h conversion windows; shared by the batch
  // (q113) and streaming (q88) forms — the stream must match it exactly
  private lazy val funnelOracle: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS tns FROM events
      |), v AS (SELECT user_id, min(tns) AS tv FROM e WHERE event_type = 'view' GROUP BY 1
      |), c AS (SELECT e.user_id, min(tns) AS tc FROM e JOIN v USING (user_id)
      |         WHERE event_type = 'click' AND tns > tv AND tns <= tv + 86400000000000 GROUP BY 1
      |), p AS (SELECT e.user_id, min(tns) AS tp FROM e JOIN c USING (user_id)
      |         WHERE event_type = 'purchase' AND tns > tc AND tns <= tc + 86400000000000 GROUP BY 1
      |), u AS (SELECT DISTINCT user_id FROM e)
      |SELECT funnel_stage, CAST(count(*) AS BIGINT) AS n_users FROM (
      |  SELECT CAST(CASE WHEN tp IS NOT NULL THEN 3 WHEN tc IS NOT NULL THEN 2
      |              WHEN tv IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS funnel_stage
      |  FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
      |) GROUP BY 1""".stripMargin

  private lazy val repetitionOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      |  FROM documents WHERE length(trim(text)) > 0
      |), w AS (
      |  SELECT doc_id, unnest(t) AS word, unnest(generate_series(1, len(t))) AS pos FROM toks
      |), wb AS (
      |  SELECT doc_id, word, lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt FROM w
      |), wc AS (SELECT doc_id, word, count(*) AS wcnt FROM wb GROUP BY 1, 2
      |), ws AS (
      |  SELECT doc_id, CAST(SUM(wcnt) AS BIGINT) AS n_words,
      |    count(*) AS n_distinct_words, MAX(wcnt) AS top_word_cnt
      |  FROM wc GROUP BY 1
      |), bc AS (
      |  SELECT doc_id, word || ' ' || nxt AS gram2, count(*) AS bcnt
      |  FROM wb WHERE nxt IS NOT NULL GROUP BY 1, 2
      |), bs AS (
      |  SELECT doc_id, CAST(SUM(bcnt) AS BIGINT) AS n_bigrams, MAX(bcnt) AS top_bigram_cnt
      |  FROM bc GROUP BY 1
      |)
      |SELECT ws.doc_id, n_words, n_distinct_words,
      |  CAST(n_distinct_words AS DOUBLE) / CAST(n_words AS DOUBLE) AS distinct_word_frac,
      |  CAST(top_word_cnt AS DOUBLE) / CAST(n_words AS DOUBLE) AS top_word_frac,
      |  COALESCE(CAST(top_bigram_cnt AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 0.0) AS top_bigram_frac
      |FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id""".stripMargin

  // fixed-point PageRank replay: the 10 iterations unroll as chained CTEs
  // (generated here — no recursive-CTE aggregation restrictions to fight).
  // All arithmetic is integer (DuckDB SUM promotes to HUGEINT; values stay
  // < 2^63 so the final BIGINT cast is lossless), so every round matches
  // the engine's long math bit-for-bit.
  private lazy val pageRankOracle: String = {
    val iters = 10
    val head =
      """WITH nodes AS (SELECT doc_id AS node FROM documents),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |ej AS (SELECT node AS src,
        |         unnest(generate_series(1, 1 + node % 4)) AS j FROM nodes),
        |edges AS (SELECT src, (src * (src + 3) + j * 97) % n AS dst FROM ej, nn),
        |outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY 1),
        |base AS (SELECT CAST(1000000000000 AS BIGINT) * 15 // 100 // n AS b FROM nn),
        |r0 AS (SELECT node, CAST(1000000000000 AS BIGINT) // n AS rank_fp FROM nodes, nn)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""r$k AS (
         |  SELECT nd.node, (SELECT b FROM base) + COALESCE(c.s, 0) AS rank_fp
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS node, SUM((r.rank_fp * 85) // (100 * o.od)) AS s
         |    FROM r${k - 1} r JOIN edges e ON e.src = r.node
         |    JOIN outdeg o ON o.src = r.node
         |    GROUP BY e.dst) c ON c.node = nd.node)""".stripMargin
    }
    (Seq(head) ++ steps).mkString(",\n") +
      s"\nSELECT node AS doc_id, CAST(rank_fp AS BIGINT) AS rank_fp FROM r$iters"
  }

  // Markov-attribution fixed-point replay (q256): journey transitions in
  // SQL windows, then the 40 integer fixed-point rounds unroll as chained
  // CTEs over the (removal × transient-state) grid — all arithmetic is
  // HUGEINT floor division, matching the engine's BigInt math bit-for-bit
  // (the pageRankOracle discipline, with the removal dimension riding as
  // a key instead of separate systems).
  private lazy val markovOracle: String = {
    val iters = 40 // must equal markovAttributionFixedPoint's default
    val head =
      """WITH e AS (
        |  SELECT user_id AS u, epoch_ns(ts) AS t, event_id AS tie,
        |    CASE WHEN event_type = 'purchase' THEN 'CONV'
        |         ELSE 'c:' || event_type END AS s
        |  FROM events),
        |o1 AS (
        |  SELECT u, t, tie, s,
        |    COALESCE(SUM(CASE WHEN s = 'CONV' THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY u ORDER BY t, tie
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS convbefore
        |  FROM e),
        |p AS (
        |  SELECT u, s,
        |    LEAD(s) OVER (PARTITION BY u ORDER BY t, tie) AS nx,
        |    ROW_NUMBER() OVER (PARTITION BY u ORDER BY t, tie) AS rn
        |  FROM o1 WHERE convbefore = 0),
        |tr AS (
        |  SELECT 'START' AS src, s AS dst FROM p WHERE rn = 1
        |  UNION ALL
        |  SELECT s AS src, COALESCE(nx, 'DROP') AS dst FROM p WHERE s <> 'CONV'),
        |cnt AS MATERIALIZED (
        |  SELECT src, dst, CAST(count(*) AS BIGINT) AS n FROM tr GROUP BY 1, 2),
        |outs AS MATERIALIZED (
        |  SELECT src, CAST(SUM(n) AS BIGINT) AS outn FROM cnt GROUP BY 1),
        |conv AS MATERIALIZED (SELECT src, n AS cn FROM cnt WHERE dst = 'CONV'),
        |sts AS (SELECT DISTINCT src AS s FROM cnt),
        |rem AS (SELECT s AS removal FROM sts WHERE s LIKE 'c:%'
        |        UNION ALL SELECT '__NONE__'),
        |x0 AS MATERIALIZED (
        |  SELECT removal, s, CAST(0 AS HUGEINT) AS x FROM rem, sts)""".stripMargin
    val steps = (1 to iters).map { k =>
      s"""x$k AS MATERIALIZED (
         |  SELECT g.removal, g.s,
         |    (COALESCE(f.v, 0) + COALESCE(CAST(cv.cn AS HUGEINT), 0) * 1000000000000)
         |      // o.outn AS x
         |  FROM (SELECT removal, s FROM x0) g
         |  JOIN outs o ON o.src = g.s
         |  LEFT JOIN conv cv ON cv.src = g.s
         |  LEFT JOIN (
         |    SELECT xp.removal, c.src AS s, SUM(CAST(c.n AS HUGEINT) * xp.x) AS v
         |    FROM x${k - 1} xp JOIN cnt c ON c.dst = xp.s
         |    WHERE xp.s <> xp.removal
         |    GROUP BY 1, 2) f ON f.removal = g.removal AND f.s = g.s)""".stripMargin
    }
    val tail =
      s"""fin AS (SELECT removal, x FROM x$iters WHERE s = 'START'),
         |b AS (SELECT x AS p0 FROM fin WHERE removal = '__NONE__'),
         |re AS (
         |  SELECT substr(f.removal, 3) AS channel, o.outn AS n_out, b.p0 AS p0,
         |    CASE WHEN b.p0 > 0 THEN (b.p0 - f.x) * 1000000000000 // b.p0 END AS re_fp
         |  FROM fin f, b, outs o
         |  WHERE f.removal <> '__NONE__' AND o.src = f.removal),
         |tt AS (SELECT SUM(re_fp) AS tot FROM re)
         |SELECT channel, CAST(n_out AS BIGINT) AS n_out,
         |  CAST(p0 AS BIGINT) AS p_conv_fp,
         |  CAST(re_fp AS BIGINT) AS removal_effect_fp,
         |  CAST(CASE WHEN tot > 0 THEN re_fp * 1000000000000 // tot END AS BIGINT)
         |    AS attribution_share_fp
         |FROM re, tt""".stripMargin
    (Seq(head) ++ steps).mkString(",\n") + ",\n" + tail
  }

  /** Shared head for the generated graph oracles: the q152 edge fixture. */
  private val graphFixtureHead: String =
    """WITH nodes AS (SELECT doc_id AS node FROM documents),
      |nn AS (SELECT count(*) AS n FROM nodes),
      |ej AS (SELECT node AS src,
      |         unnest(generate_series(1, 1 + node % 4)) AS j FROM nodes),
      |edges AS (SELECT src, (src * (src + 3) + j * 97) % n AS dst FROM ej, nn)""".stripMargin

  // label propagation: all 5 synchronous rounds replayed as chained CTEs
  // (the pageRankOracle pattern) — per-dst argmax with ties to the
  // smallest label via (count DESC, label) row_number
  private lazy val labelPropOracle: String = {
    val iters = 5
    val head = graphFixtureHead +
      ",\nl0 AS (SELECT node, node % 10 AS label FROM nodes)"
    val steps = (1 to iters).map { k =>
      s"""v$k AS MATERIALIZED (
         |  SELECT dst AS node, l AS newl FROM (
         |    SELECT e.dst AS dst, lab.label AS l,
         |      row_number() OVER (PARTITION BY e.dst ORDER BY count(*) DESC, lab.label) AS rn
         |    FROM edges e JOIN l${k - 1} lab ON lab.node = e.src
         |    GROUP BY e.dst, lab.label) WHERE rn = 1),
         |l$k AS MATERIALIZED (
         |  SELECT nd.node, COALESCE(vt.newl, pv.label) AS label
         |  FROM nodes nd JOIN l${k - 1} pv ON pv.node = nd.node
         |  LEFT JOIN v$k vt ON vt.node = nd.node)""".stripMargin
    }
    (Seq(head) ++ steps).mkString(",\n") +
      s"\nSELECT node AS doc_id, CAST(label AS BIGINT) AS label FROM l$iters"
  }

  // k-core: every peeling round's degree table and survivor set replayed
  private lazy val kCoreOracle: String = {
    val (k, rounds) = (3, 6)
    val head = graphFixtureHead +
      ",\ne0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM edges WHERE src <> dst)"
    // MATERIALIZED: e(i) references e(i-1) five times transitively —
    // inlined CTEs would expand 5^rounds scans of the base table
    val steps = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT v, count(*) AS c FROM (
         |  SELECT a AS v FROM e${i - 1} UNION ALL SELECT b AS v FROM e${i - 1}) GROUP BY v),
         |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e${i - 1} e
         |  JOIN d$i da ON da.v = e.a JOIN d$i db ON db.v = e.b
         |  WHERE da.c >= $k AND db.c >= $k)""".stripMargin
    }
    (Seq(head) ++ steps).mkString(",\n") +
      s"""\nSELECT node AS doc_id, CAST(count(*) AS BIGINT) AS degree FROM (
         |  SELECT a AS node FROM e$rounds UNION ALL SELECT b AS node FROM e$rounds
         |) GROUP BY 1""".stripMargin
  }

  // multi-source BFS: all 6 frontier rounds replayed as chained CTEs —
  // round k extends only from nodes settled at k-1 (exact for unweighted
  // BFS), min-distance per node
  private lazy val bfsOracle: String = {
    val rounds = 6
    val head = graphFixtureHead +
      ",\nb0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM nodes WHERE node % 97 = 0)"
    val steps = (1 to rounds).map { k =>
      s"""b$k AS MATERIALIZED (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM b${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, f.dist + 1 AS dist
         |    FROM b${k - 1} f JOIN edges e ON e.src = f.node
         |    WHERE f.dist = ${k - 1}) GROUP BY node)""".stripMargin
    }
    (Seq(head) ++ steps).mkString(",\n") +
      s"\nSELECT node AS doc_id, CAST(dist AS BIGINT) AS dist FROM b$rounds"
  }

  /** The q213 entity-name fixture: every group of 4 ids carries tail-edit
    * variants (identity / append / replace / swap) of one md5-derived
    * 10-char base — shared verbatim (modulo dialect casts) with the
    * oracle. Edits stay clear of the first 2 chars (the block key). */
  /** Deterministic planar point fixture: integer coordinates in a
    * 1e6 x 1e6 box via Knuth-style multiplicative hashing of the key —
    * pure 64-bit arithmetic, replayed verbatim by the DuckDB oracle. The
    * 2^20 pre-mod keeps key*multiplier < 2^52 (no ANSI long overflow at
    * any key scale) and is a no-op at gate scales (keys < 2^20). */
  private def geoPoints(df: DataFrame, key: String, mLat: Long, mLon: Long): DataFrame = {
    val k = pmod(col(key), lit(1048576L))
    df.select(col(key),
      (k * lit(mLat) % lit(4294967296L) % lit(1000000L)).as("lat"),
      (k * lit(mLon) % lit(4294967296L) % lit(1000000L)).as("lon"))
  }

  /** Serve-path artifact staging: build ONCE per (kind, sf dir, source
    * data fingerprint) into a /tmp cache, so gate/bench invocations after
    * the first LOAD and only probe — the build-once/probe-many cost split
    * the persistable index artifacts exist for (q267/q268 vs their
    * build-inclusive siblings q135/q260). The version tag invalidates the
    * cache across code changes, the fingerprint across driver data
    * regenerations, and the marker file commits a build atomically (a
    * crashed half-build is rebuilt, never trusted). The fingerprint folds
    * every CHILD part-file's (length, mtime) — a directory's own length
    * is a filesystem constant (4096) and its mtime alone would let a
    * regenerated-but-mtime-preserving fixture (e.g. restored from an
    * archive) silently reuse stale artifacts. The marker commits via
    * atomic rename so a concurrent process never observes a half-build. */
  private val ServeArtifactVersion = "v1"
  private def ensureServeArtifact(kind: String, dir: String, table: String)(
      build: String => Unit): String = synchronized {
    val src = new java.io.File(s"$dir/$table.parquet")
    val children: Array[java.io.File] =
      if (src.isDirectory) Option(src.listFiles()).getOrElse(Array.empty).sortBy(_.getName)
      else Array(src)
    val fp = java.lang.Long.toHexString(
      children.foldLeft(17L)((h, f) =>
        (h * 1000003L + f.length()) * 1000003L + f.lastModified()))
    val base = s"/tmp/graft_serve_${kind}_${ServeArtifactVersion}_${fp}_" +
      dir.replaceAll("[^0-9a-zA-Z]", "_")
    val marker = new java.io.File(base, "_GRAFT_READY")
    if (!marker.exists()) {
      build(base)
      val tmp = new java.io.File(base, s"_GRAFT_READY.tmp.${ProcessHandle.current().pid()}")
      tmp.createNewFile()
      if (!tmp.renameTo(marker)) tmp.delete() // lost the race: a peer committed
    }
    base
  }

  /** Pinned ingest contract shared by q260/q268: every batch doc is an
    * exact resubmit of its source (doc_id − 1000000), so it MUST pair
    * with that source at jaccard exactly 1.0 — identical text gives an
    * identical MinHash signature, so EVERY band collides (LSH-certain,
    * not probabilistic) and the exact shingle-set verify scores 1.0. A
    * missing source pair surfaces as the loud −1 sentinel and fails the
    * hash compare. */
  private def sourcePairContract(batch: DataFrame, pairs: DataFrame): DataFrame =
    batch.select(col("doc_id"))
      .join(pairs.filter(col("corpus_id") === col("batch_id") - 1000000L)
          .select(col("batch_id").as("doc_id"), col("jaccard").as("source_jaccard")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("source_jaccard"), lit(-1d)).as("source_jaccard"))

  private val entityNameFixtureSql: String =
    """CASE CAST(doc_id % 4 AS INT)
      |  WHEN 0 THEN substring(md5(CAST(CAST(doc_id div 4 AS STRING) AS BINARY)), 1, 10)
      |  WHEN 1 THEN concat(substring(md5(CAST(CAST(doc_id div 4 AS STRING) AS BINARY)), 1, 10), 'x')
      |  WHEN 2 THEN concat(substring(md5(CAST(CAST(doc_id div 4 AS STRING) AS BINARY)), 1, 9), 'zz')
      |  ELSE concat(substring(md5(CAST(CAST(doc_id div 4 AS STRING) AS BINARY)), 1, 8),
      |    substring(md5(CAST(CAST(doc_id div 4 AS STRING) AS BINARY)), 10, 1),
      |    substring(md5(CAST(CAST(doc_id div 4 AS STRING) AS BINARY)), 9, 1))
      |END""".stripMargin

  /** The q165 URL-normalization chain as CTEs ending in `dom(doc_id, url,
    * norm_url, domain)` — shared by the q165 report and the q217 dedup. */
  private val urlNormOracleCtes: String =
    """WITH u AS (
      |  SELECT doc_id, concat(
      |    CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END,
      |    CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END,
      |    'Site-', CAST(doc_id % 7 AS VARCHAR), '.Example.COM',
      |    '/Articles/item-', CAST(doc_id % 40 AS VARCHAR),
      |    CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,
      |    CASE WHEN doc_id % 5 = 0 THEN concat('?utm_source=feed&id=', CAST(doc_id % 11 AS VARCHAR), '&utm_campaign=x')
      |         WHEN doc_id % 5 = 1 THEN concat('?id=', CAST(doc_id % 11 AS VARCHAR), '&ref=tw')
      |         WHEN doc_id % 5 = 2 THEN '?utm_medium=em'
      |         ELSE '' END,
      |    CASE WHEN doc_id % 6 = 0 THEN '#Section-2' ELSE '' END) AS url
      |  FROM documents),
      |n1 AS (SELECT doc_id, url, regexp_replace(url, '#.*', '', 'g') AS nofrag FROM u),
      |n2 AS (SELECT doc_id, url, nofrag,
      |    regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*') AS prefix FROM n1),
      |n3 AS (SELECT doc_id, url,
      |    regexp_replace(lower(prefix), '://www\.', '://', 'g') AS head,
      |    substr(nofrag, length(prefix) + 1) AS tail FROM n2),
      |n4 AS (SELECT doc_id, url, head,
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(
      |          regexp_replace(tail, '(utm_[A-Za-z0-9]+|ref|fbclid|gclid)=[^&#]*', '', 'g'),
      |          '&+', '&', 'g'),
      |        '\?&', '?', 'g'),
      |      '[?&]+$', '', 'g') AS tail2 FROM n3),
      |n5 AS (SELECT doc_id, url, head,
      |    regexp_replace(regexp_replace(tail2, '/+$', '', 'g'), '/+\?', '?', 'g') AS tail3 FROM n4),
      |norm AS (SELECT doc_id, url, head || tail3 AS norm_url FROM n5),
      |dom AS (SELECT doc_id, url, norm_url,
      |    regexp_extract(norm_url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS domain FROM norm)""".stripMargin

  // covariance matrix: the pair list, the cents scaling, and the fixed
  // combination tree are all generated from the SAME column list the
  // engine operator uses — HUGEINT product sums canonicalize via VARCHAR
  private lazy val covMatrixOracle: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val cents = cols.map(c => s"CAST(ROUND($c * 100) AS BIGINT) AS c_$c").mkString(", ")
    val sums = cols.map(c => s"CAST(SUM(c_$c) AS BIGINT) AS s_$c").mkString(", ")
    val prods = (for { i <- cols.indices; j <- i until cols.size } yield
      s"SUM(CAST(c_${cols(i)} AS HUGEINT) * CAST(c_${cols(j)} AS HUGEINT)) AS p_${i}_$j")
      .mkString(", ")
    val rows = (for { i <- cols.indices; j <- i until cols.size } yield
      s"""SELECT '${cols(i)}' AS col_a, '${cols(j)}' AS col_b, n,
         |  (CAST(CAST(p_${i}_$j AS VARCHAR) AS DOUBLE)
         |    - CAST(CAST(s_${cols(i)} AS VARCHAR) AS DOUBLE)
         |      * CAST(CAST(s_${cols(j)} AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE))
         |    / (CAST(n AS DOUBLE) - 1.0) / 10000.0 AS cov FROM a""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH c AS (SELECT $cents FROM lineitem),
       |a AS (SELECT CAST(count(*) AS BIGINT) AS n, $sums, $prods FROM c)
       |$rows""".stripMargin
  }

  // grouped OLS: exact decimal sufficient statistics + one fixed tree —
  // shared verbatim by batch q183 and streaming q234
  private lazy val groupedOlsOracle: String =
      """WITH s AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(15,2))) AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS VARCHAR) AS DOUBLE) AS sy,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(15,2)) * CAST(l_extendedprice AS DECIMAL(15,2))) AS VARCHAR) AS DOUBLE) AS sxy,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(15,2)) * CAST(l_quantity AS DECIMAL(15,2))) AS VARCHAR) AS DOUBLE) AS sxx,
        |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2)) * CAST(l_extendedprice AS DECIMAL(15,2))) AS VARCHAR) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n,
        |  CASE WHEN (CAST(n AS DOUBLE)*sxx - sx*sx) <> 0
        |    THEN (CAST(n AS DOUBLE)*sxy - sx*sy) / (CAST(n AS DOUBLE)*sxx - sx*sx) END AS slope,
        |  CASE WHEN (CAST(n AS DOUBLE)*sxx - sx*sx) <> 0
        |    THEN (sy - ((CAST(n AS DOUBLE)*sxy - sx*sy) / (CAST(n AS DOUBLE)*sxx - sx*sx)) * sx) / CAST(n AS DOUBLE) END AS intercept,
        |  CASE WHEN (CAST(n AS DOUBLE)*sxx - sx*sx) <> 0 AND (CAST(n AS DOUBLE)*syy - sy*sy) <> 0
        |    THEN ((CAST(n AS DOUBLE)*sxy - sx*sy) * (CAST(n AS DOUBLE)*sxy - sx*sy))
        |         / ((CAST(n AS DOUBLE)*sxx - sx*sx) * (CAST(n AS DOUBLE)*syy - sy*sy)) END AS r2
        |FROM s""".stripMargin

  // Benford audit: the VALUES literals are generated from the SAME
  // Expectations.BenfordP doubles the engine expression uses — identical
  // bits by construction (a libm log10 at query time could differ)
  private lazy val benfordOracle: String = {
    // CAST('...' AS DOUBLE), not a bare numeric literal: DuckDB parses
    // bare decimals as DECIMAL first and the decimal->double conversion
    // can land on the adjacent ulp; the string parse is correctly rounded
    val vals = graft.ext.Expectations.BenfordP.zipWithIndex
      .map { case (p, i) => s"(${i + 1}, CAST('$p' AS DOUBLE))" }.mkString(", ")
    s"""WITH d AS (
       |  SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
       |  FROM orders WHERE CAST(ROUND(o_totalprice * 100) AS BIGINT) > 0),
       |g AS (SELECT digit, CAST(count(*) AS BIGINT) AS observed FROM d GROUP BY 1),
       |n AS (SELECT CAST(SUM(observed) AS BIGINT) AS tot FROM g),
       |bp(digit, p) AS (VALUES $vals)
       |SELECT g.digit, g.observed,
       |  CAST(g.observed AS DOUBLE) / CAST(n.tot AS DOUBLE) AS share,
       |  bp.p AS benford_p,
       |  (CAST(g.observed AS DOUBLE) - CAST(n.tot AS DOUBLE) * bp.p)
       |    * (CAST(g.observed AS DOUBLE) - CAST(n.tot AS DOUBLE) * bp.p)
       |    / (CAST(n.tot AS DOUBLE) * bp.p) AS contribution
       |FROM g JOIN bp ON bp.digit = g.digit CROSS JOIN n""".stripMargin
  }

  // decontamination: string 5-grams on the oracle side vs xxhash64'd
  // grams on the engine side — counts agree modulo ~2^-64 collisions
  // (same precedent as the q43 exact-jaccard oracle)
  private lazy val deconOracle: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
      |         ELSE list_distinct(list_transform(generate_series(1, len(t)-4),
      |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])) END AS s
      |  FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
      |        FROM documents WHERE length(trim(text)) > 0)
      |), eg AS (SELECT DISTINCT unnest(s) AS gram FROM sh WHERE doc_id % 50 = 0
      |), tg AS (SELECT doc_id, unnest(s) AS gram FROM sh WHERE doc_id % 50 <> 0
      |), hits AS (
      |  SELECT tg.doc_id, count(*) AS n FROM tg JOIN eg ON tg.gram = eg.gram GROUP BY 1
      |)
      |SELECT d.doc_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_shared_grams,
      |  COALESCE(h.n, 0) > 0 AS contaminated
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0 AND length(trim(text)) > 0) d
      |LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin

  /** Shared k-word segment CTE for the CorpusRewrite oracles: DuckDB
    * positions are 1-based, the engine's posexplode is 0-based, hence the
    * `(pos - 1) // k`. Reassembly is `string_agg ORDER BY seg` — fine in an
    * oracle (DuckDB on sf tables), banned in the engine (see CorpusRewrite
    * scaladoc for the min-struct plan). */
  private def segmentCte(k: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
       |  FROM documents WHERE length(trim(text)) > 0
       |), w AS (
       |  SELECT doc_id, unnest(t) AS word, unnest(generate_series(1, len(t))) AS pos FROM toks
       |), segs AS (
       |  SELECT doc_id, CAST((pos - 1) // $k AS BIGINT) AS seg,
       |         string_agg(word, ' ' ORDER BY pos) AS segtext
       |  FROM w GROUP BY 1, 2
       |)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(queryPairs: _*)

  private[graft] lazy val oraclePairs: Seq[(String, String)] = Seq(
    "q01_semijoin_orders" ->
      "SELECT * FROM orders WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem)",
    "q02_semijoin_part" ->
      "SELECT * FROM part WHERE p_partkey IN (SELECT l_partkey FROM lineitem)",
    "q03_semijoin_supplier" ->
      "SELECT * FROM supplier WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem)",
    "q04_semijoin_customer" ->
      "SELECT * FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)",
    "q05_semijoin_nation" ->
      "SELECT * FROM nation WHERE n_nationkey IN (SELECT c_nationkey FROM customer)",
    "q06_semijoin_region" ->
      "SELECT * FROM region WHERE r_regionkey IN (SELECT n_regionkey FROM nation)",
    "q07_semijoin_legacy_keys" ->
      ("SELECT * FROM nation WHERE CAST(n_nationkey AS VARCHAR) IN " +
        "(SELECT CAST(c_nationkey AS VARCHAR) FROM customer)"),
    "q08_antijoin_orders" ->
      "SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem)",
    // full pipeline replay: the portable deterministic sample (n smallest
    // md5(seed:key) ranks, n = floor(rows * 0.05)) then both semi-joins —
    // the sampled ROW SET itself is part of what the hash-compare pins
    "q13_sample_pipeline" ->
      """WITH rk AS (
        |  SELECT l_orderkey,
        |    md5('42:' || CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)) AS r
        |  FROM lineitem
        |), s AS (
        |  SELECT l_orderkey FROM rk
        |  QUALIFY row_number() OVER (ORDER BY r)
        |    <= (SELECT CAST(floor(count(*) * 0.05) AS BIGINT) FROM lineitem)
        |), o AS (
        |  SELECT o_orderkey, o_custkey FROM orders
        |  WHERE EXISTS (SELECT 1 FROM s WHERE s.l_orderkey = orders.o_orderkey)
        |)
        |SELECT * FROM customer c
        |WHERE EXISTS (SELECT 1 FROM o WHERE o.o_custkey = c.c_custkey)""".stripMargin,

    // portable stratified sample: per-stratum floor(n*ratio) rows with the
    // smallest md5 ranks — both windows share the stratum partitioning;
    // the rank key is the verified-unique extended tuple (see query note)
    "q14_sample_stratified" ->
      """SELECT * FROM lineitem
        |QUALIFY row_number() OVER (PARTITION BY l_returnflag
        |    ORDER BY md5('42:' || CAST(l_orderkey AS VARCHAR)
        |      || ':' || CAST(l_linenumber AS VARCHAR)
        |      || ':' || CAST(l_partkey AS VARCHAR)
        |      || ':' || CAST(l_suppkey AS VARCHAR)
        |      || ':' || l_returnflag || ':' || l_linestatus
        |      || ':' || CAST(CAST(l_shipdate AS DATE) AS VARCHAR)))
        |  <= floor(count(*) OVER (PARTITION BY l_returnflag) * 0.01)""".stripMargin,

    // portable per-group exact-k: the engine's one-shuffle bottom-k sketch
    // must equal the window selection over the same md5 rank
    "q15_sample_per_group" ->
      """SELECT * FROM documents
        |QUALIFY row_number() OVER (PARTITION BY lang, source
        |    ORDER BY md5('42:' || CAST(doc_id AS VARCHAR))) <= 3""".stripMargin,

    // portable weighted sample (priority sampling): u = 52-bit md5 prefix
    // as an exact integer-valued double; u/w is one correctly-rounded
    // IEEE-754 division, so the priority BITS match the engine's exactly;
    // full hex rank breaks ties; weight replays via the q61 quality oracle
    "q16_sample_weighted" ->
      s"""WITH q AS ($qualityOracle),
        |d AS (
        |  SELECT doc_id, docs.lang, q.quality_score,
        |         md5('42:' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents docs JOIN q USING (doc_id)
        |  WHERE q.quality_score > 0
        |)
        |SELECT doc_id, lang, quality_score FROM d
        |QUALIFY row_number() OVER (PARTITION BY lang
        |    ORDER BY CAST(('0x' || substr(h, 1, 13))::BIGINT AS DOUBLE) / quality_score,
        |             h) <= 20""".stripMargin,

    // column profile: per-column UNION ALL recomputation of the one-pass
    // Spark aggregate; DECIMAL/DATE casts make min/max strings identical
    "q09_profile_orders" -> {
      val src =
        """SELECT o_orderkey, o_custkey, o_orderstatus,
          |    CAST(o_totalprice AS DECIMAL(15,2)) AS o_totalprice,
          |    CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
          |  FROM orders""".stripMargin
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      cols.map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_nulls, count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_str, CAST(max($c) AS VARCHAR) AS max_str
           |FROM ($src)""".stripMargin
      }.mkString("\nUNION ALL\n")
    },

    // histogram: same clamp + floor((v-lo)/w) double arithmetic; w =
    // 60000/24 = 2500 is exact in binary, so bins match bit-for-bit
    "q47_histogram_prices" ->
      """WITH b AS (
        |  SELECT LEAST(23, GREATEST(0,
        |    CAST(floor((CAST(l_extendedprice AS DOUBLE) - 0.0) / 2500.0) AS BIGINT))) AS bin
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL
        |)
        |SELECT bin, 0.0 + bin * 2500.0 AS bin_lo, 0.0 + (bin + 1) * 2500.0 AS bin_hi,
        |  count(*) AS n
        |FROM b GROUP BY 1""".stripMargin,
    "q20_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS count_order,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2)) * (CAST(1 AS DECIMAL(15,2)) - CAST(l_discount AS DECIMAL(15,2)))) AS DOUBLE) AS sum_disc_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q21_join_agg_revenue" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2)) * (CAST(1 AS DECIMAL(15,2)) - CAST(l_discount AS DECIMAL(15,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,
    "q22_topk_orders" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "q23_window_recent_orders" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,
    "q24_distinct_segments" ->
      "SELECT DISTINCT c_mktsegment FROM customer",
    "q25_setop_nations" ->
      ("SELECT DISTINCT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer " +
        "INTERSECT SELECT DISTINCT CAST(s_nationkey AS INTEGER) AS nationkey FROM supplier"),
    "q17_union_all_counts" ->
      """SELECT nationkey, count(*) AS n FROM (
        |  SELECT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
        |  UNION ALL SELECT CAST(s_nationkey AS INTEGER) FROM supplier
        |) GROUP BY nationkey""".stripMargin,
    "q18_except_orders" ->
      "SELECT DISTINCT o_orderkey FROM orders EXCEPT SELECT DISTINCT l_orderkey FROM lineitem",
    // the sketch columns are exported as booleans pinning the sketch's
    // accuracy contract (see the query comments); the oracle asserts the
    // contract holds (TRUE) and checks the exact columns value-for-value
    "q19_approx_distinct" ->
      """SELECT o_orderpriority, TRUE AS approx_ok,
        |  count(DISTINCT o_custkey) AS exact_customers
        |FROM orders GROUP BY 1""".stripMargin,
    "q96_approx_percentile" ->
      """SELECT l_returnflag, TRUE AS p50_ok, TRUE AS p99_ok, count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q83_stream_sample" ->
      """SELECT count(*) AS n_events, TRUE AS ids_in_events_ok,
        |  TRUE AS ids_distinct_ok, TRUE AS rate_ok
        |FROM events""".stripMargin,
    "q28_rollup_pricing" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  count(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,
    "q29_cube_orderstats" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
        |  coalesce(o_orderpriority, 'ALL') AS orderpriority,
        |  count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,
    "q34_window_frames" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS moving_sum3,
        |  count(*) OVER (
        |    PARTITION BY o_custkey ORDER BY date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS n_last_30d
        |FROM orders""".stripMargin,
    "q35_range_join" ->
      """SELECT o_orderpriority, count(*) AS n_late,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS sum_late_price
        |FROM lineitem l JOIN orders o
        |  ON l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
        |GROUP BY o_orderpriority""".stripMargin,
    "q36_fullouter_orders" ->
      """SELECT coalesce(c_mktsegment, '(none)') AS segment,
        |  count(DISTINCT c_custkey) AS n_customers,
        |  count(o_orderkey) AS n_orders
        |FROM customer c FULL OUTER JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY 1""".stripMargin,
    "q38_correlated_subq" ->
      """SELECT c_custkey, c_name,
        |  (SELECT max(o_totalprice) FROM orders o WHERE o.o_custkey = c.c_custkey) AS max_order_price
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)""".stripMargin,
    "q39_date_string_funcs" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        |  substr(o_orderpriority, 1, 1) AS prio_class,
        |  count(*) AS n, min(o_orderdate) AS first_date,
        |  max(upper(o_orderstatus)) AS max_status
        |FROM orders GROUP BY 1, 2, 3""".stripMargin,
    "q53_vector_funcs" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS n_dims,
        |  embedding[1] AS e_first,
        |  list_min(embedding) AS e_min,
        |  list_max(embedding) AS e_max,
        |  list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS norm_sq
        |FROM embeddings""".stripMargin,
    "q27_order_gaps" ->
      """SELECT o_custkey, o_orderkey,
        |  epoch_us(o_orderdate) - lag(epoch_us(o_orderdate)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS gap_us
        |FROM orders""".stripMargin,
    // exact interpolated percentile: Spark `percentile` and DuckDB
    // `quantile_cont` share the p*(n-1) interpolation and produce
    // bit-identical doubles (verified empirically on this data)
    "q26_percentiles" ->
      """SELECT o_orderpriority,
        |  quantile_cont(o_totalprice, 0.5) AS p50,
        |  quantile_cont(o_totalprice, 0.95) AS p95,
        |  min(o_totalprice) AS min_price,
        |  max(o_totalprice) AS max_price
        |FROM orders GROUP BY o_orderpriority""".stripMargin,
    "q30_events_hourly" ->
      """SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS bucket_s, event_type, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q31_events_sessions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS tus, value FROM events
        |), flagged AS (
        |  SELECT user_id, tus, value,
        |    CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus) IS NULL
        |           OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus) >= 600000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e
        |), sess AS (
        |  SELECT user_id, tus, value,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |)
        |SELECT min(tus) AS session_start_us, user_id, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, sid""".stripMargin,
    "q32_events_json_props" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS DECIMAL(15,2))) AS DOUBLE) AS sum_k,
        |  COUNT(json_extract_string(props, '$.k')) AS n_with_k
        |FROM events GROUP BY event_type""".stripMargin,
    "q33_events_asof" ->
      """SELECT e.event_id, e.user_id, p.value AS asof_purchase_value
        |FROM events e ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin,
    // identical semantics through the skew-resistant bucketed plan
    "q107_asof_bucketed" ->
      """SELECT e.event_id, e.user_id, p.value AS asof_purchase_value
        |FROM events e ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin,
    "q40_dedup_exact" ->
      "SELECT * FROM documents WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)",
    // exact set-similarity join: the brute-force pairwise jaccard is the
    // oracle; the engine's prefix-filtered plan must match it exactly
    // (jaccard over hashed shingle sets == string sets modulo ~2^-64
    // collisions)
    "q43_dedup_ngram_jaccard" ->
      """WITH toks AS (
        |  -- engine side drops docs with no tokens (empty shingle set);
        |  -- string_split_regex('') would otherwise yield [''] here
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
        |  WHERE length(trim(text)) > 0
        |), sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS s
        |  FROM toks
        |)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |) WHERE jaccard >= 0.7""".stripMargin,
    // connected components via recursive CTE over the same exact-jaccard
    // edges: every (reachable-min) label per doc, then min per doc
    "q46_dedup_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
        |  WHERE length(trim(text)) > 0
        |), sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS s
        |  FROM toks
        |), pairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  ) WHERE jaccard >= 0.7
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs
        |), comp(id, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, c.label FROM comp c JOIN edges e ON c.id = e.src
        |)
        |SELECT id AS doc_id, min(label) AS cluster_id FROM comp GROUP BY id""".stripMargin,
    "q50_knn_brute" ->
      """WITH q AS (SELECT * FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
        |    CASE WHEN list_dot_product(d.embedding::DOUBLE[], d.embedding::DOUBLE[]) = 0
        |           OR list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) = 0 THEN 0.0
        |         ELSE list_dot_product(d.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
        |              (sqrt(list_dot_product(d.embedding::DOUBLE[], d.embedding::DOUBLE[])) *
        |               sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))) END AS cosine
        |  FROM embeddings d CROSS JOIN q
        |)
        |SELECT query_id, neighbor_id, cosine, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM scored
        |) WHERE rank <= 10""".stripMargin,
    "q60_text_stats" ->
      s"""SELECT doc_id, stat_n_chars, stat_n_tokens,
        |  CAST(punct_cnt AS DOUBLE) / GREATEST(stat_n_chars, 1) AS stat_punct_ratio,
        |  CAST(digit_cnt AS DOUBLE) / GREATEST(stat_n_chars, 1) AS stat_digit_ratio,
        |  CAST(space_cnt AS DOUBLE) / GREATEST(stat_n_chars, 1) AS stat_space_ratio,
        |  CASE WHEN stat_n_tokens = 0 THEN 0.0
        |       ELSE CAST(stat_n_chars - space_cnt AS DOUBLE) / CAST(stat_n_tokens AS DOUBLE) END AS stat_mean_token_len
        |FROM ($statsSubquery)""".stripMargin,
    "q61_text_quality" -> qualityOracle,
    "q62_text_langid" -> langIdOracle,
    "q63_token_counts" -> tokenCountOracle,

    "q64_repetition_stats" -> repetitionOracle,

    // REAL PNG/BMP decode + grayscale-histogram features: both formats are
    // lossless, so the closed-form pixel formula survives the JDK encode +
    // decode round-trip exactly; the oracle recomputes the histogram moment
    // (sum of each pixel's bucket index) from the formula — a codec or
    // bucketing bug breaks the hash-compare
    "q70_multimodal_features" ->
      """WITH px AS (
        |  SELECT d.doc_id,
        |    ((doc_id*31 + xs.x*7 + ys.y*13 + 0) % 256
        |     + (doc_id*31 + xs.x*7 + ys.y*13 + 5) % 256
        |     + (doc_id*31 + xs.x*7 + ys.y*13 + 10) % 256) // 3 AS g
        |  FROM documents d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS x) xs
        |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS y) ys
        |)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'image/bmp' END AS media_type,
        |  CAST(16 AS BIGINT) AS feat_dim,
        |  CAST(384 AS BIGINT) AS n_pixels,
        |  CAST(SUM((g * 16) // 256) AS BIGINT) AS hist_moment
        |FROM px GROUP BY 1, 2""".stripMargin,

    // REAL compressed-image thumbnail pipeline: ImageIO decode -> shared
    // P6 box-filter resize (24x16 -> 8x8, 3x2 blocks, truncating /6) ->
    // channel means; same oracle recipe as q74 but through the codec path
    "q72_multimodal_resize" ->
      """WITH px AS (
        |  SELECT d.doc_id, xs.x AS x, ys.y AS y FROM documents d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS x) xs
        |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS y) ys
        |), blocks AS (
        |  SELECT doc_id, x // 3 AS ox, y // 2 AS oy,
        |    CAST(SUM((doc_id*31 + x*7 + y*13 + 0) % 256) AS BIGINT) // 6 AS pr,
        |    CAST(SUM((doc_id*31 + x*7 + y*13 + 5) % 256) AS BIGINT) // 6 AS pg,
        |    CAST(SUM((doc_id*31 + x*7 + y*13 + 10) % 256) AS BIGINT) // 6 AS pb
        |  FROM px GROUP BY 1, 2, 3
        |)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'image/bmp' END AS media_type,
        |  8 AS width, 8 AS height,
        |  CAST(CAST(SUM(pr) AS BIGINT) AS DOUBLE) / 64.0 AS mean_r,
        |  CAST(CAST(SUM(pg) AS BIGINT) AS DOUBLE) / 64.0 AS mean_g,
        |  CAST(CAST(SUM(pb) AS BIGINT) AS DOUBLE) / 64.0 AS mean_b
        |FROM blocks GROUP BY 1, 2""".stripMargin,

    // PPM decode stats: the synthetic image's channel (x,y,c) of doc `id`
    // is (id*31 + x*7 + y*13 + c*5) mod 256 — SQL recomputes the decoded
    // per-channel means from the formula (exact integer sums, then one
    // double division on both engines)
    "q73_ppm_decode_stats" ->
      """WITH px AS (
        |  SELECT d.doc_id, xs.x AS x, ys.y AS y FROM documents d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS x) xs
        |  CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS y) ys
        |), s AS (
        |  SELECT doc_id,
        |    CAST(SUM((doc_id*31 + x*7 + y*13 + 0) % 256) AS BIGINT) AS sr,
        |    CAST(SUM((doc_id*31 + x*7 + y*13 + 5) % 256) AS BIGINT) AS sg,
        |    CAST(SUM((doc_id*31 + x*7 + y*13 + 10) % 256) AS BIGINT) AS sb
        |  FROM px GROUP BY 1
        |)
        |SELECT doc_id, 32 AS width, 24 AS height,
        |  CAST(sr AS DOUBLE) / 768.0 AS mean_r,
        |  CAST(sg AS DOUBLE) / 768.0 AS mean_g,
        |  CAST(sb AS DOUBLE) / 768.0 AS mean_b
        |FROM s""".stripMargin,

    // WAV decode stats: sample i of clip `id` is
    // ((id*7 + i*3) mod 65536) - 32768; exact integer sums (and sum of
    // squares), one double division / sqrt at the end on both engines
    "q75_wav_decode_stats" ->
      """WITH smp AS (
        |  SELECT d.doc_id, ii.i AS i FROM documents d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 1199)) AS i) ii
        |), s AS (
        |  SELECT doc_id,
        |    CAST(SUM(((doc_id*7 + i*3) % 65536) - 32768) AS BIGINT) AS s1,
        |    CAST(SUM((((doc_id*7 + i*3) % 65536) - 32768) * (((doc_id*7 + i*3) % 65536) - 32768)) AS BIGINT) AS s2
        |  FROM smp GROUP BY 1
        |)
        |SELECT doc_id, 8000 AS sample_rate, CAST(1200 AS BIGINT) AS n_samples,
        |  1200.0 / 8000.0 AS duration_s,
        |  CAST(s1 AS DOUBLE) / 1200.0 AS mean_amp,
        |  sqrt(CAST(s2 AS DOUBLE) / 1200.0) AS rms_amp
        |FROM s""".stripMargin,

    // video frame stats: frame f of clip `id` has channel (x,y,c) =
    // (id*31 + f*17 + x*7 + y*13 + c*5) mod 256; sampled frames 0,2,4,6
    "q76_video_frame_stats" ->
      """WITH px AS (
        |  SELECT d.doc_id, fs.f AS f, xs.x AS x, ys.y AS y FROM documents d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS f) fs
        |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS x) xs
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) ys
        |  WHERE fs.f % 2 = 0
        |), s AS (
        |  SELECT doc_id, f,
        |    CAST(SUM((doc_id*31 + f*17 + x*7 + y*13 + 0) % 256) AS BIGINT) AS sr,
        |    CAST(SUM((doc_id*31 + f*17 + x*7 + y*13 + 5) % 256) AS BIGINT) AS sg,
        |    CAST(SUM((doc_id*31 + f*17 + x*7 + y*13 + 10) % 256) AS BIGINT) AS sb
        |  FROM px GROUP BY 1, 2
        |)
        |SELECT doc_id, f AS frame_idx, 16 AS width, 8 AS height,
        |  CAST(sr AS DOUBLE) / 128.0 AS mean_r,
        |  CAST(sg AS DOUBLE) / 128.0 AS mean_g,
        |  CAST(sb AS DOUBLE) / 128.0 AS mean_b
        |FROM s""".stripMargin,

    // WAV resample stats: the decimated clip keeps original samples at
    // stride 4 — same formula, index 4*i, rate 2000
    "q77_wav_resample_stats" ->
      """WITH smp AS (
        |  SELECT d.doc_id, ii.i AS i FROM documents d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 299)) AS i) ii
        |), s AS (
        |  SELECT doc_id,
        |    CAST(SUM(((doc_id*7 + (4*i)*3) % 65536) - 32768) AS BIGINT) AS s1,
        |    CAST(SUM((((doc_id*7 + (4*i)*3) % 65536) - 32768) * (((doc_id*7 + (4*i)*3) % 65536) - 32768)) AS BIGINT) AS s2
        |  FROM smp GROUP BY 1
        |)
        |SELECT doc_id, 2000 AS sample_rate, CAST(300 AS BIGINT) AS n_samples,
        |  300.0 / 2000.0 AS duration_s,
        |  CAST(s1 AS DOUBLE) / 300.0 AS mean_amp,
        |  sqrt(CAST(s2 AS DOUBLE) / 300.0) AS rms_amp
        |FROM s""".stripMargin,

    // grayscale stats: per-pixel truncating (r+g+b)/3 over the pixel
    // formula; integer sums, min/max exact
    "q78_ppm_grayscale_stats" ->
      """WITH px AS (
        |  SELECT d.doc_id,
        |    ((doc_id*31 + xs.x*7 + ys.y*13 + 0) % 256
        |     + (doc_id*31 + xs.x*7 + ys.y*13 + 5) % 256
        |     + (doc_id*31 + xs.x*7 + ys.y*13 + 10) % 256) // 3 AS g
        |  FROM documents d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS x) xs
        |  CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS y) ys
        |)
        |SELECT doc_id, CAST(768 AS BIGINT) AS n_pixels,
        |  CAST(CAST(SUM(g) AS BIGINT) AS DOUBLE) / 768.0 AS mean_gray,
        |  CAST(MIN(g) AS BIGINT) AS min_gray, CAST(MAX(g) AS BIGINT) AS max_gray
        |FROM px GROUP BY 1""".stripMargin,

    // PPM resize stats: each 4x4 block averages with truncating integer
    // division (// in DuckDB == JVM int division for non-negative values)
    "q74_ppm_resize_stats" ->
      """WITH px AS (
        |  SELECT d.doc_id, xs.x AS x, ys.y AS y FROM documents d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS x) xs
        |  CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS y) ys
        |), blocks AS (
        |  SELECT doc_id, x // 4 AS ox, y // 4 AS oy,
        |    CAST(SUM((doc_id*31 + x*7 + y*13 + 0) % 256) AS BIGINT) // 16 AS pr,
        |    CAST(SUM((doc_id*31 + x*7 + y*13 + 5) % 256) AS BIGINT) // 16 AS pg,
        |    CAST(SUM((doc_id*31 + x*7 + y*13 + 10) % 256) AS BIGINT) // 16 AS pb
        |  FROM px GROUP BY 1, 2, 3
        |)
        |SELECT doc_id, 8 AS width, 6 AS height,
        |  CAST(CAST(SUM(pr) AS BIGINT) AS DOUBLE) / 48.0 AS mean_r,
        |  CAST(CAST(SUM(pg) AS BIGINT) AS DOUBLE) / 48.0 AS mean_g,
        |  CAST(CAST(SUM(pb) AS BIGINT) AS DOUBLE) / 48.0 AS mean_b
        |FROM blocks GROUP BY 1""".stripMargin,

    // PII scan: identical RE2-safe patterns on both engines; DuckDB
    // regexp_replace needs the 'g' flag to match Spark's replace-all
    "q65_pii_scan" ->
      s"""SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '${CorpusFilters.emailPattern}')) AS BIGINT) AS email_cnt,
        |  CAST(len(regexp_extract_all(text, '${CorpusFilters.ipv4Pattern}')) AS BIGINT) AS ipv4_cnt,
        |  CAST(len(regexp_extract_all(text, '${CorpusFilters.phonePattern}')) AS BIGINT) AS phone_cnt,
        |  CAST(len(regexp_extract_all(text, '${CorpusFilters.emailPattern}'))
        |     + len(regexp_extract_all(text, '${CorpusFilters.ipv4Pattern}'))
        |     + len(regexp_extract_all(text, '${CorpusFilters.phonePattern}')) AS BIGINT) AS pii_total,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '${CorpusFilters.emailPattern}', '<EMAIL>', 'g'),
        |    '${CorpusFilters.ipv4Pattern}', '<IP>', 'g'),
        |    '${CorpusFilters.phonePattern}', '<PHONE>', 'g')) AS redacted_md5
        |FROM documents""".stripMargin,

    "q66_decontaminate" -> deconOracle,

    // duplicated spans: string 16-grams on the oracle side vs xxhash64'd
    // spans on the engine side (q43 precedent); within-doc spans distinct,
    // so cross-doc frequency is count distinct docs per span
    "q68_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0
        |), sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 16 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(generate_series(1, len(t)-15),
        |                i -> array_to_string(list_slice(t, i, i+15), ' '))) END AS s
        |  FROM toks
        |), g AS (SELECT doc_id, unnest(s) AS gram FROM sh
        |), freq AS (SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1)
        |SELECT g.doc_id, count(*) AS n_spans,
        |  CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_spans,
        |  CAST(CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS dup_span_frac
        |FROM g JOIN freq ON g.gram = freq.gram GROUP BY 1""".stripMargin,

    // z-order round-trip: the probe runs against the REWRITTEN layout on
    // the engine side and the original table here — equal results prove
    // the rewrite moved bytes, not data
    "q97_zorder_scan" ->
      """SELECT CAST(user_id % 4 AS BIGINT) AS user_mod, count(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DECIMAL(15,2)) AS DOUBLE) AS sum_value,
        |  CAST(SUM(event_id) AS BIGINT) AS sum_event_ids
        |FROM events WHERE user_id <= 18 AND value <= 60.0
        |GROUP BY 1""".stripMargin,

    // full curation pipeline: one composed oracle proving the ENTIRE
    // declarative plan — language + quality + repetition + PII +
    // decontamination filters, exact dedup, per-source token budget,
    // mixture accounting — distributes over the same per-doc semantics
    "q98_curation_pipeline" ->
      s"""WITH qual AS ($qualityOracle), lang AS ($langIdOracle),
        |rep AS ($repetitionOracle), pii AS ($piiTotalsSub), decon AS ($deconOracle),
        |kept AS (
        |  SELECT d.doc_id, d.text, d.source FROM documents d
        |  JOIN qual ON d.doc_id = qual.doc_id
        |  JOIN lang ON d.doc_id = lang.doc_id
        |  JOIN rep ON d.doc_id = rep.doc_id
        |  JOIN pii ON d.doc_id = pii.doc_id
        |  JOIN decon ON d.doc_id = decon.doc_id
        |  WHERE lang.lang_pred = 'en' AND qual.quality_score >= 0.3
        |    AND rep.top_word_frac <= 0.3 AND rep.distinct_word_frac >= 0.25
        |    AND pii.pii_total = 0 AND NOT decon.contaminated
        |), dd AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY text
        |), base AS (
        |  SELECT k.doc_id, k.source,
        |    CAST(len(string_split_regex(lower(trim(k.text)), '\\s+')) AS BIGINT) AS ws_tokens,
        |    md5(CAST(k.doc_id AS VARCHAR)) AS h_ord
        |  FROM dd x JOIN kept k ON x.doc_id = k.doc_id
        |), tot AS (
        |  SELECT source,
        |    CAST(floor(CAST(CAST(SUM(ws_tokens) AS BIGINT) AS DOUBLE) * 0.5) AS BIGINT) AS budget
        |  FROM base GROUP BY 1
        |), sel AS (
        |  SELECT * FROM (
        |    SELECT base.doc_id, base.source AS source, ws_tokens,
        |      CAST(SUM(ws_tokens) OVER (PARTITION BY base.source ORDER BY h_ord, base.doc_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum, budget
        |    FROM base JOIN tot ON base.source = tot.source
        |  ) WHERE cum <= budget
        |)
        |SELECT source, count(*) AS n_docs, CAST(SUM(ws_tokens) AS BIGINT) AS sum_ws_tokens
        |FROM sel GROUP BY 1""".stripMargin,

    // corpus top-100 bigrams, rank deterministic on (cnt desc, gram asc)
    "q67_top_bigrams" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0
        |), w AS (
        |  SELECT doc_id, unnest(t) AS word, unnest(generate_series(1, len(t))) AS pos FROM toks
        |), wb AS (
        |  SELECT doc_id, word, lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt FROM w
        |), bc AS (
        |  SELECT word || ' ' || nxt AS gram, count(*) AS cnt FROM wb WHERE nxt IS NOT NULL GROUP BY 1
        |)
        |SELECT CAST(row_number() OVER (ORDER BY cnt DESC, gram) AS BIGINT) AS rank, gram, cnt
        |FROM bc ORDER BY cnt DESC, gram LIMIT 100""".stripMargin,

    // mixture report: counts are BIGINT both sides; fractions use the
    // identical double expression tree
    "q56_mixture_report" ->
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(SUM(CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1
        |), tot AS (
        |  SELECT CAST(SUM(n_docs) AS BIGINT) AS td, CAST(SUM(n_tokens) AS BIGINT) AS tt FROM per
        |)
        |SELECT source, n_docs, n_tokens,
        |  CAST(n_docs AS DOUBLE) / CAST(td AS DOUBLE) AS doc_frac,
        |  CAST(n_tokens AS DOUBLE) / CAST(tt AS DOUBLE) AS token_frac
        |FROM per CROSS JOIN tot""".stripMargin,

    // temperature mixture: sqrt-tempered weights in floor(w*2^40) fixed
    // point so the normalizer is an order-independent integer sum
    "q57_temperature_mixture" ->
      """WITH per AS (
        |  SELECT source,
        |    CAST(SUM(CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT)) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1
        |), tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tt FROM per
        |), w AS (
        |  SELECT source, n_tokens,
        |    CAST(n_tokens AS DOUBLE) / CAST(tt AS DOUBLE) AS share,
        |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE) / CAST(tt AS DOUBLE)) * 1099511627776.0) AS BIGINT) AS wfx
        |  FROM per CROSS JOIN tot
        |), n AS (SELECT CAST(SUM(wfx) AS BIGINT) AS wsum FROM w
        |)
        |SELECT source, n_tokens, share,
        |  CAST(wfx AS DOUBLE) / CAST(wsum AS DOUBLE) AS weight,
        |  CAST(floor(CAST(wfx AS DOUBLE) / CAST(wsum AS DOUBLE) * 10000) AS BIGINT) AS quota_tokens,
        |  LEAST(1.0, CAST(CAST(floor(CAST(wfx AS DOUBLE) / CAST(wsum AS DOUBLE) * 10000) AS BIGINT) AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS sampling_rate
        |FROM w CROSS JOIN n""".stripMargin,

    // token-budget mixture subset: md5-hash order + running sum per source,
    // admitted while cum <= floor(0.5 * source total); integer cums -> no
    // float drift in the cut
    "q55_token_budget" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS ws_tokens,
        |    md5(CAST(doc_id AS VARCHAR)) AS h_ord FROM documents
        |), tot AS (
        |  SELECT source,
        |    CAST(floor(CAST(CAST(SUM(ws_tokens) AS BIGINT) AS DOUBLE) * 0.5) AS BIGINT) AS budget
        |  FROM tok GROUP BY 1
        |), c AS (
        |  SELECT doc_id, tok.source AS source, ws_tokens,
        |    CAST(SUM(ws_tokens) OVER (PARTITION BY tok.source ORDER BY h_ord, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
        |    budget
        |  FROM tok JOIN tot ON tok.source = tot.source
        |)
        |SELECT doc_id, source, ws_tokens, cum_tokens FROM c WHERE cum_tokens <= budget""".stripMargin,

    // hash split: bucket = first 4 hex chars of md5(id-as-string);
    // thresholds floor(0.8*65536)=0xcccc, floor(0.9*65536)=0xe666 —
    // lexicographic compare on fixed-width lowercase hex == numeric compare
    "q58_hash_split" -> hashSplitOracle,
    // the streaming router is stateless, so its emitted set is the same
    // batch assignment — identical oracle
    "q87_stream_hash_split" -> hashSplitOracle,

    // sequence packing: per-source token prefix sums (rows preceding the
    // current), pack = floor(prefix / 2048); integer token sums -> exact
    "q59_sequence_packing" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ws_tokens
        |  FROM documents
        |), off AS (
        |  SELECT doc_id, source, ws_tokens,
        |    COALESCE(CAST(SUM(ws_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS o
        |  FROM tok
        |)
        |SELECT source, CAST(floor(CAST(o AS DOUBLE) / 2048.0) AS BIGINT) AS pack_id,
        |  count(*) AS n_docs, CAST(SUM(ws_tokens) AS BIGINT) AS pack_tokens,
        |  min(doc_id) AS first_id, max(doc_id) AS last_id
        |FROM off GROUP BY 1, 2""".stripMargin,

    // overlapping character chunks: starts 0,150,300,... while < len
    // (empty text -> one empty chunk); md5 of the chunk keeps rows narrow
    "q79_doc_chunks" ->
      """WITH c AS (
        |  SELECT doc_id, text,
        |    UNNEST(generate_series(0, greatest(length(text) - 1, 0), 150)) AS chunk_start
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(floor(chunk_start / 150.0) AS BIGINT) AS chunk_idx,
        |  CAST(chunk_start AS BIGINT) AS chunk_start,
        |  CAST(length(substr(text, CAST(chunk_start AS INT) + 1, 200)) AS BIGINT) AS chunk_len,
        |  md5(substr(text, CAST(chunk_start AS INT) + 1, 200)) AS chunk_md5
        |FROM c""".stripMargin,

    // streaming corpus filter: stateless append-mode projection == batch
    // semantics, so the oracle is the composed batch SQL of q61/q62 + the
    // PII counts
    "q86_stream_corpus_filter" ->
      s"""WITH qual AS ($qualityOracle), lang AS ($langIdOracle),
        |pii AS ($piiTotalsSub)
        |SELECT d.doc_id, lang.lang_pred, qual.quality_score
        |FROM documents d
        |JOIN qual ON d.doc_id = qual.doc_id
        |JOIN lang ON d.doc_id = lang.doc_id
        |JOIN pii ON d.doc_id = pii.doc_id
        |WHERE qual.quality_score >= 0.3 AND pii.pii_total = 0""".stripMargin,

    // the corpus-prep pipeline composes the q61/q62/q63 oracles as CTEs —
    // the SQL proves the composed DataFrame pipeline distributes over the
    // same per-doc semantics
    "q99_corpus_pipeline" ->
      s"""WITH lang AS ($langIdOracle), qual AS ($qualityOracle), toks AS ($tokenCountOracle),
        |kept AS (
        |  SELECT d.doc_id, d.text, d.source FROM documents d
        |  JOIN lang ON d.doc_id = lang.doc_id
        |  JOIN qual ON d.doc_id = qual.doc_id
        |  WHERE lang.lang_pred = 'en' AND qual.quality_score >= 0.3
        |), dedup AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY text)
        |SELECT k.source, count(*) AS n_docs,
        |  CAST(SUM(t.ws_tokens) AS BIGINT) AS sum_ws_tokens,
        |  CAST(SUM(t.bpe_ish_tokens) AS BIGINT) AS sum_bpe_tokens
        |FROM dedup x
        |JOIN kept k ON x.doc_id = k.doc_id
        |JOIN toks t ON x.doc_id = t.doc_id
        |GROUP BY 1""".stripMargin,

    "q95_from_json" ->
      """SELECT event_type,
        |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
        |  count(*) AS n,
        |  CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q90_hopping_windows" ->
      """SELECT bucket_s, event_type, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT (((epoch_ns(ts) // 1000000000) // 1800) - u.k) * 1800 AS bucket_s,
        |    event_type, value
        |  FROM events, (SELECT unnest([0, 1]) AS k) u
        |) GROUP BY 1, 2""".stripMargin,
    "q91_pivot" ->
      """SELECT l_returnflag,
        |  CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(15,2)) END), 0) AS DOUBLE) AS qty_f,
        |  CAST(COALESCE(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(15,2)) END), 0) AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q92_vector_centroids" ->
      """WITH x AS (
        |  SELECT CAST(vec_id % 8 AS BIGINT) AS grp,
        |    unnest(embedding) AS v,
        |    unnest(generate_series(1, len(embedding))) AS dim_pos
        |  FROM embeddings
        |), fx AS (
        |  SELECT grp, CAST(dim_pos AS BIGINT) AS dim_pos,
        |    CAST(floor(CAST(v AS DOUBLE) * 1073741824) AS BIGINT) AS vfx
        |  FROM x
        |)
        |SELECT grp, dim_pos, count(*) AS n,
        |  CAST(CAST(SUM(vfx) AS BIGINT) AS DOUBLE) / 1073741824 AS sum_val,
        |  CAST(CAST(SUM(vfx) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1073741824 AS mean_val
        |FROM fx GROUP BY 1, 2""".stripMargin,
    "q93_regex_extract" ->
      """SELECT doc_id,
        |  regexp_extract(text, '^(\w+)', 1) AS first_word,
        |  CAST(len(regexp_extract_all(text, '\bthe\b')) AS BIGINT) AS n_the,
        |  CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT) AS len_novowels
        |FROM documents""".stripMargin,
    "q94_resample_gapfill" ->
      """WITH hourly AS (
        |  SELECT event_type, (epoch_ns(ts) // 3600000000000) * 3600 AS bucket_s,
        |    count(*) AS n_raw
        |  FROM events GROUP BY 1, 2
        |), spine AS (
        |  SELECT event_type, unnest(generate_series(mn, mx, 3600)) AS bucket_s
        |  FROM (SELECT event_type, min(bucket_s) AS mn, max(bucket_s) AS mx FROM hourly GROUP BY 1)
        |)
        |SELECT s.event_type, s.bucket_s, COALESCE(h.n_raw, 0) AS n_events
        |FROM spine s LEFT JOIN hourly h USING (event_type, bucket_s)""".stripMargin,

    "q37_rank_funcs" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drank,
        |  percent_rank() OVER w AS prank,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  cume_dist() OVER w AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin,
    "q48_grouped_list" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  array_to_string(list(CAST(o_orderkey AS VARCHAR) ORDER BY o_orderkey), ',') AS orderkeys_csv
        |FROM orders GROUP BY 1""".stripMargin,
    "q102_asof_tolerance" ->
      """SELECT e.event_id, e.user_id,
        |  CASE WHEN p.ts IS NULL OR epoch_ns(e.ts) - epoch_ns(p.ts) > 1800000000000
        |       THEN NULL ELSE p.value END AS asof_purchase_value
        |FROM events e ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin,
    "q103_dynamic_sessions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS tus,
        |    CASE WHEN event_type = 'purchase' THEN 300000000 ELSE 900000000 END AS gap
        |  FROM events
        |), m AS (
        |  SELECT user_id, tus, gap,
        |    max(tus + gap) OVER (PARTITION BY user_id ORDER BY tus, gap
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_end
        |  FROM e
        |), flagged AS (
        |  SELECT user_id, tus, gap,
        |    CASE WHEN max_end IS NULL OR tus >= max_end THEN 1 ELSE 0 END AS new_s
        |  FROM m
        |), sess AS (
        |  -- same (tus, gap) order as m: ties must accumulate in the order
        |  -- their flags were computed
        |  SELECT user_id, tus,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, gap ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |)
        |SELECT min(tus) AS session_start_us, user_id, count(*) AS n_events
        |FROM sess GROUP BY user_id, sid""".stripMargin,
    "q100_csv_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS sum_price,
        |  min(o_orderdate) AS first_date
        |FROM orders GROUP BY 1""".stripMargin,
    "q101_json_roundtrip" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS sum_price,
        |  max(o_custkey) AS max_cust
        |FROM orders GROUP BY 1""".stripMargin,
    "q85_stream_static_join" ->
      """WITH stats AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS user_ltv,
        |    count(*) AS user_events
        |  FROM events GROUP BY 1
        |)
        |SELECT e.event_id, e.user_id, s.user_ltv, s.user_events
        |FROM events e JOIN stats s ON e.user_id = s.user_id
        |WHERE e.event_type = 'purchase'""".stripMargin,
    "q106_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents WHERE length(trim(text)) > 0
        |), tot AS (SELECT count(*) AS n FROM toks)
        |SELECT tok, count(*) AS cnt
        |FROM toks, tot
        |GROUP BY tok, tot.n
        |HAVING count(*) * 100 >= tot.n""".stripMargin,
    "q105_array_hofs" ->
      """SELECT vec_id,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
        |  CAST(len(list_filter(embedding, x -> x > 2)) > 0 AS BOOLEAN) AS has_gt2,
        |  CAST(list_position(embedding, list_max(embedding)) AS BIGINT) AS argmax_pos
        |FROM embeddings""".stripMargin,
    "q104_orc_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS sum_price,
        |  count(DISTINCT o_custkey) AS n_cust
        |FROM orders GROUP BY 1""".stripMargin,
    "q84_stream_interval_join" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND epoch_ns(c.ts) // 1000 BETWEEN epoch_ns(p.ts) // 1000 - 3600000000 AND epoch_ns(p.ts) // 1000
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'""".stripMargin,

    // streaming results equal their batch formulations by construction
    // (complete-mode agg / key-set projection / sentinel-flushed sessions)
    "q80_stream_hourly" ->
      """SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS bucket_s, event_type,
        |  count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q81_stream_dedup" ->
      "SELECT DISTINCT event_type FROM events",
    "q82_stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS tus FROM events
        |), flagged AS (
        |  SELECT user_id, tus,
        |    CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus) IS NULL
        |           OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus) >= 600000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e
        |), sess AS (
        |  SELECT user_id, tus,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |)
        |SELECT min(tus) AS session_start_us, max(tus) AS session_end_us,
        |  user_id, count(*) AS n_events
        |FROM sess GROUP BY user_id, sid""".stripMargin,

    // TF-IDF keywords: the BM25-rational idf makes the score one IEEE
    // division + multiplication of exactly-representable small integers on
    // both engines — bit-identical, so the rank cut is deterministic
    "q110_tfidf_keywords" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
        |  WHERE length(trim(text)) > 0
        |), words AS (SELECT doc_id, unnest(t) AS term FROM toks
        |), tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM words GROUP BY 1, 2
        |), dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        |), n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks)
        |SELECT doc_id, term, tf, df, score, rank FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    CAST(tf.tf AS DOUBLE) *
        |      ((CAST(n.n AS DOUBLE) - CAST(dfreq.df AS DOUBLE) + 0.5) / (CAST(dfreq.df AS DOUBLE) + 0.5)) AS score,
        |    CAST(row_number() OVER (PARTITION BY tf.doc_id ORDER BY
        |      CAST(tf.tf AS DOUBLE) *
        |        ((CAST(n.n AS DOUBLE) - CAST(dfreq.df AS DOUBLE) + 0.5) / (CAST(dfreq.df AS DOUBLE) + 0.5)) DESC,
        |      tf.term) AS BIGINT) AS rank
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n
        |) WHERE rank <= 3""".stripMargin,
    // bigram novelty: integer sums only, two double divisions at the end
    "q111_bigram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
        |  WHERE length(trim(text)) > 0
        |), pos AS (
        |  SELECT doc_id, unnest(t) AS word, unnest(generate_series(1, len(t))) AS pos FROM toks
        |), big AS (
        |  SELECT doc_id, word || ' ' || lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS gram2 FROM pos
        |), bb AS (SELECT doc_id, gram2 FROM big WHERE gram2 IS NOT NULL
        |), cb AS (SELECT gram2, CAST(count(*) AS BIGINT) AS cnt FROM bb GROUP BY 1
        |), per AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(cnt) AS BIGINT) AS support_sum,
        |    CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS novel_cnt
        |  FROM bb JOIN cb USING (gram2) GROUP BY 1
        |)
        |SELECT doc_id, n_bigrams, support_sum,
        |  CAST(support_sum AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS avg_support,
        |  CAST(novel_cnt AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS novel_frac
        |FROM per""".stripMargin,
    // fuzzy join: DuckDB brute-forces every pair; the engine's PassJoin
    // blocking must reproduce it exactly
    "q112_fuzzy_join" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE a.c_custkey % 10 = 0 AND b.c_custkey % 10 = 0
        |  AND levenshtein(a.c_name, b.c_name) <= 2""".stripMargin,
    // identical ground truth for the forced hot-block (two-level) path
    "q128_fuzzy_join_hotblock" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE a.c_custkey % 10 = 0 AND b.c_custkey % 10 = 0
        |  AND levenshtein(a.c_name, b.c_name) <= 2""".stripMargin,
    "q113_event_funnel" -> funnelOracle,
    // the streaming funnel's sentinel-flushed state machine must reproduce
    // the batch answer exactly
    "q88_stream_funnel" -> funnelOracle,
    "q114_partitioned_scan" ->
      "SELECT doc_id, text, source, n_chars, lang FROM documents WHERE lang = 'en'",
    // both writer generations of every doc: one pre-evolution (NULL lang),
    // one with the column
    "q127_schema_evolution" ->
      """SELECT doc_id, md5(text) AS text_md5, '(pre-evolution)' AS lang FROM documents
        |UNION ALL
        |SELECT doc_id, md5(text) AS text_md5, lang FROM documents""".stripMargin,

    // keyed upsert: NOT EXISTS anti join + union == MERGE matched-update /
    // not-matched-insert; replays the exact refresh-batch construction
    "q129_upsert_merge" ->
      """WITH updates AS (
        |  SELECT doc_id, upper(text) AS text, lang, 'refresh' AS source, n_chars
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'new doc ' || CAST(doc_id AS VARCHAR), lang,
        |         'fresh', CAST(length('new doc ' || CAST(doc_id AS VARCHAR)) AS BIGINT)
        |  FROM documents WHERE doc_id < 10
        |), merged AS (
        |  SELECT * FROM documents d
        |  WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.doc_id = d.doc_id)
        |  UNION ALL
        |  SELECT * FROM updates
        |)
        |SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars FROM merged""".stripMargin,

    // compaction preserves content exactly — the oracle is the identity
    "q130_compaction" ->
      """SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars
        |FROM documents""".stripMargin,

    // PQ recall contract (the q19/q96 sketch-contract pattern): the oracle
    // pins recall_ok TRUE for every query id — the PQ pipeline must beat
    // 50% recall@10 vs exact brute force or the hash-compare fails
    "q133_knn_pq" ->
      """SELECT vec_id AS query_id, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin,

    // same contract through the composed IVF-PQ path
    "q135_knn_ivfpq" ->
      """SELECT vec_id AS query_id, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin,

    // same contract again through the serve path (prebuilt artifacts,
    // load + probe only)
    "q267_ivfpq_serve" ->
      """SELECT vec_id AS query_id, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin,

    // q260/q268 pinned ingest contract: an exact resubmit pairs with its
    // source at jaccard EXACTLY 1.0 — identical text -> identical MinHash
    // signature -> every band collides (certain, not probabilistic) ->
    // exact shingle verify = 1.0. The full LSH pair SET stays spec-level
    // (band recall on 0.8-0.9 near-dups is probabilistic, q41 precedent).
    "q260_minhash_index_ingest" ->
      """SELECT doc_id + 1000000 AS doc_id, CAST('1' AS DOUBLE) AS source_jaccard
        |FROM documents WHERE doc_id % 7 = 0""".stripMargin,
    "q268_minhash_serve" ->
      """SELECT doc_id + 1000000 AS doc_id, CAST('1' AS DOUBLE) AS source_jaccard
        |FROM documents WHERE doc_id % 7 = 0""".stripMargin,

    // q262 admit-set contract: exact resubmits (doc_id % 7 = 0) are
    // ALWAYS rejected (identical signature -> certain band collision at
    // jaccard 1.0); md5-novel docs (% 7 = 1) are always admitted (their
    // single whole-doc shingle verifies ~0 against any corpus doc) — so
    // the admitted set is exactly the md5 rows, deterministically
    "q262_stream_neardup_gate" ->
      """SELECT doc_id + 1000000 AS doc_id
        |FROM documents WHERE doc_id % 7 = 1""".stripMargin,

    // word-window chunking replayed verbatim: same integer chunk count,
    // same 1-based 64-wide slices at stride 48, same space join
    "q269_doc_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |  FROM documents WHERE length(trim(text)) > 0),
        |n AS (
        |  SELECT doc_id, w,
        |    CASE WHEN len(w) <= 64 THEN 1
        |         ELSE (len(w) - 64 + 47) // 48 + 1 END AS nc
        |  FROM t),
        |c AS (
        |  SELECT doc_id, w, unnest(generate_series(0, nc - 1)) AS ci FROM n)
        |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_id,
        |  array_to_string(w[ci*48 + 1 : ci*48 + 64], ' ') AS chunk_text,
        |  CAST(len(w[ci*48 + 1 : ci*48 + 64]) AS BIGINT) AS n_words
        |FROM c""".stripMargin,

    // G.711 expansion replayed from the public segment formulas: mu-law
    // u = ~code, magnitude ((mant*8)+132)<<exp re-biased; A-law a =
    // code^0x55, segment 0 linear then doubling segments; sign conventions
    // differ between the two laws (mu-law complements, A-law sets the bit)
    "q270_g711_decode_stats" ->
      """WITH smp AS (
        |  SELECT d.doc_id, ii.i, (d.doc_id*7 + ii.i*3) % 256 AS cd
        |  FROM documents d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 799)) AS i) ii
        |), mu AS (
        |  SELECT doc_id, i, 255 - cd AS u, CAST(xor(cd, 85) AS BIGINT) AS a FROM smp
        |), mg AS (
        |  SELECT doc_id, i, u, a,
        |    ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) AS mt,
        |    CASE WHEN (a // 16) % 8 = 0 THEN (a % 16) * 16 + 8
        |         ELSE ((a % 16) * 16 + 264) * (1 << ((a // 16) % 8 - 1)) END AS am
        |  FROM mu
        |), v AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0
        |         THEN CASE WHEN u >= 128 THEN 132 - mt ELSE mt - 132 END
        |         ELSE CASE WHEN a >= 128 THEN am ELSE -am END END AS v
        |  FROM mg
        |), s AS (
        |  SELECT doc_id, CAST(SUM(v) AS BIGINT) AS s1, CAST(SUM(v*v) AS BIGINT) AS s2
        |  FROM v GROUP BY 1)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'mulaw' ELSE 'alaw' END AS codec,
        |  8000 AS sample_rate, CAST(800 AS BIGINT) AS n_samples,
        |  800.0 / 8000.0 AS duration_s,
        |  CAST(s1 AS DOUBLE) / 800.0 AS mean_amp,
        |  sqrt(CAST(s2 AS DOUBLE) / 800.0) AS rms_amp
        |FROM s""".stripMargin,

    // IMA ADPCM state machine replayed as a recursive CTE carrying
    // (predictor, stepIndex); the step table is the public 89-entry IMA
    // table, index adjusts by {-1,-1,-1,-1,2,4,6,8} on the low 3 bits
    "q271_adpcm_decode" ->
      """WITH RECURSIVE lst AS (
        |  SELECT [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,
        |          34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,
        |          157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,
        |          724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,
        |          3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,
        |          15289,16818,18500,20350,22385,24623,27086,29794,32767] AS l
        |), steps AS (
        |  SELECT gs.g AS si, lst.l[gs.g + 1] AS sv
        |  FROM generate_series(0, 88) gs(g), lst
        |), dec AS (
        |  SELECT doc_id, -1 AS j, 0 AS pred, 0 AS idx, 0 AS smp FROM documents
        |  UNION ALL
        |  SELECT doc_id, j,
        |    GREATEST(-32768, LEAST(32767, np)) AS pred,
        |    GREATEST(0, LEAST(88, idx +
        |      CASE WHEN nib % 8 < 4 THEN -1 WHEN nib % 8 = 4 THEN 2
        |           WHEN nib % 8 = 5 THEN 4 WHEN nib % 8 = 6 THEN 6 ELSE 8 END)) AS idx,
        |    GREATEST(-32768, LEAST(32767, np)) AS smp
        |  FROM (
        |    SELECT doc_id, j, idx, nib,
        |      pred + CASE WHEN nib >= 8 THEN -df ELSE df END AS np
        |    FROM (
        |      SELECT doc_id, j, pred, idx, nib,
        |        sv // 8 + CASE WHEN (nib // 4) % 2 = 1 THEN sv ELSE 0 END
        |          + CASE WHEN (nib // 2) % 2 = 1 THEN sv // 2 ELSE 0 END
        |          + CASE WHEN nib % 2 = 1 THEN sv // 4 ELSE 0 END AS df
        |      FROM (
        |        SELECT dec.doc_id, dec.j + 1 AS j, dec.pred, dec.idx, s.sv,
        |          (dec.doc_id * 5 + (dec.j + 1) * 11
        |             + (dec.j + 1) * (dec.j + 1) * 3) % 16 AS nib
        |        FROM dec JOIN steps s ON s.si = dec.idx
        |        WHERE dec.j < 239) q1) q2) q3
        |), agg AS (
        |  SELECT doc_id,
        |    CAST(SUM(smp) AS BIGINT) AS sum_amp,
        |    CAST(SUM(smp * smp) AS BIGINT) AS energy,
        |    CAST(MAX(CASE WHEN j = 239 THEN smp END) AS INT) AS last_sample
        |  FROM dec WHERE j >= 0 GROUP BY 1)
        |SELECT doc_id, CAST(240 AS BIGINT) AS n_samples, sum_amp, energy, last_sample
        |FROM agg""".stripMargin,

    // MJPEG scene structure from the closed-form gray plan: scene s of
    // clip id is dark iff (id*13 + s*7) % 3 == 0; cuts land on scene
    // boundaries where brightness flips (frame index = s * framesPerScene)
    "q272_mjpeg_scene_stats" ->
      """WITH sel AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 3),
        |sc AS (
        |  SELECT sel.doc_id, ss.s,
        |    CASE WHEN (sel.doc_id*13 + ss.s*7) % 3 = 0 THEN 0 ELSE 1 END AS br
        |  FROM sel CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS s) ss
        |), cuts AS (
        |  SELECT doc_id, s, br,
        |    lag(br) OVER (PARTITION BY doc_id ORDER BY s) AS pbr
        |  FROM sc
        |), agg AS (
        |  SELECT doc_id,
        |    CAST(SUM(br) * 3 AS BIGINT) AS n_bright,
        |    CAST(SUM(CASE WHEN pbr IS NOT NULL AND br != pbr THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
        |    CAST(COALESCE(MIN(CASE WHEN pbr IS NOT NULL AND br != pbr THEN s * 3 END), -1) AS INT) AS first_cut
        |  FROM cuts GROUP BY 1)
        |SELECT doc_id, CAST(12 AS BIGINT) AS n_frames, 16 AS width, 12 AS height,
        |  n_bright, n_cuts, first_cut
        |FROM agg""".stripMargin,

    // the q133 recall contract through the sharded-HNSW graph path
    "q292_knn_hnsw" ->
      """SELECT vec_id AS query_id, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin,

    // same contract through the staged-artifact serve path
    "q293_knn_hnsw_serve" ->
      """SELECT vec_id AS query_id, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin,

    // same contract with an allow-set gating result collection
    "q298_knn_hnsw_filtered" ->
      """SELECT vec_id AS query_id, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin,

    // lakehouse capstone: the composed lifecycle reduces to plain SQL —
    // stream state = the whole corpus per source; final = corpus plus the
    // %10=3 re-appended generation (tagged); v0..v6 = 7 commits; the four
    // lifecycle contract booleans pinned TRUE
    "q303_lakehouse_capstone" ->
      """WITH src AS (
        |  SELECT doc_id, source, CAST(length(text) AS BIGINT) AS text_len
        |  FROM documents),
        |stream_agg AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_stream,
        |    CAST(SUM(text_len) AS BIGINT) AS sum_len_stream
        |  FROM src GROUP BY 1),
        |fin AS (
        |  SELECT source, text_len, CAST(NULL AS VARCHAR) AS tag FROM src
        |  UNION ALL
        |  SELECT source, text_len, concat('t', CAST(doc_id % 4 AS VARCHAR))
        |  FROM src WHERE doc_id % 10 = 3),
        |fin_agg AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_final,
        |    CAST(count(tag) AS BIGINT) AS n_tagged,
        |    CAST(SUM(text_len) AS BIGINT) AS sum_len_final
        |  FROM fin GROUP BY 1),
        |added AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_added FROM src WHERE doc_id % 10 = 3)
        |SELECT f.source, f.n_final, f.n_tagged, f.sum_len_final,
        |  s.n_stream, s.sum_len_stream,
        |  CAST(7 AS BIGINT) AS n_commits, added.n_added,
        |  true AS replay_skipped, true AS incremental_ok, true AS floor_ok
        |FROM fin_agg f JOIN stream_agg s USING (source) CROSS JOIN added""".stripMargin,

    // copy-on-write upsert/delete: MERGE-INTO content identity (+1 cents
    // where k%30=0, minus k≡10 mod 15), v0..v4 = 5 versions, and the two
    // kept-segment-verbatim contracts pinned TRUE
    "q308_txlog_upsert_cow" ->
      """WITH src AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS pr,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |live AS (
        |  SELECT k, pr,
        |    cents + CASE WHEN k % 30 = 0 THEN 1 ELSE 0 END AS cents
        |  FROM src WHERE NOT (k % 3 = 1 AND k % 5 = 0))
        |SELECT pr AS o_orderpriority, CAST(count(*) AS BIGINT) AS n_live,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  CAST(5 AS BIGINT) AS n_versions,
        |  true AS upsert_kept_segments, true AS delete_kept_segments
        |FROM live GROUP BY 1""".stripMargin,

    // full CDF: v1 appends insert; the v2 upsert splits into pre/postimage
    // (matched keys, %30=0) and insert (new keys, %30=2, carrying the
    // updated cents); the v3 delete emits the removed rows
    "q309_txlog_cdf" ->
      """WITH src AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS pr,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |feed AS (
        |  SELECT 1 AS v, 'insert' AS ct, pr, cents FROM src WHERE k % 3 = 1
        |  UNION ALL
        |  SELECT 2, 'update_preimage', pr, cents FROM src WHERE k % 30 = 0
        |  UNION ALL
        |  SELECT 2, 'update_postimage', pr, cents + 1 FROM src WHERE k % 30 = 0
        |  UNION ALL
        |  SELECT 2, 'insert', pr, cents + 1 FROM src WHERE k % 30 = 2
        |  UNION ALL
        |  SELECT 3, 'delete', pr, cents FROM src WHERE k % 15 = 1)
        |SELECT CAST(v AS BIGINT) AS _commit_version, ct AS _change_type,
        |  pr AS o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM feed GROUP BY 1, 2, 3""".stripMargin,

    // follower state == from-scratch aggregate over the whole source; the
    // exactly-once skip and both advances pinned TRUE; 4 source versions
    "q310_txlog_follow" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  true AS advanced_ok, true AS caught_up_skipped,
        |  CAST(4 AS BIGINT) AS n_src_versions
        |FROM orders GROUP BY 1""".stripMargin,

    // timestamp travel at t=2500 resolves to v1 (pre-upsert): ORIGINAL
    // cents for every row; version resolution contract pinned TRUE
    "q312_txlog_time_travel" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  true AS resolve_ok
        |FROM orders GROUP BY 1""".stripMargin,

    // orphan GC: live table untouched by the sweep; both sweep contracts
    // pinned TRUE
    "q313_txlog_orphan_gc" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_live,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  true AS aged_orphan_reclaimed, true AS inflight_survives
        |FROM orders GROUP BY 1""".stripMargin,

    // size-tiered compaction: the 5 odd slices cover every odd key, so the
    // live table is ALL of orders; the three bin-packing contracts pinned
    "q314_txlog_compact_small" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_live,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents,
        |  true AS packed_ok, true AS big_kept_verbatim,
        |  true AS compaction_feed_empty
        |FROM orders GROUP BY 1""".stripMargin,

    // manifest data skipping: the filtered aggregate over exactly the
    // second key-range slice; the 1-scanned / 3-skipped contract pinned
    "q316_txlog_data_skipping" ->
      """WITH src AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS pr,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |mx AS (SELECT max(k) AS m FROM src)
        |SELECT pr AS o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents, true AS pruned_ok
        |FROM src, mx WHERE k >= m // 4 + 1 AND k <= m // 2
        |GROUP BY 1""".stripMargin,

    // range delete: live = everything outside [m//4+1, m//2+m//8]; the
    // change-feed delete count re-derives inside the range; v0..v4 = 5
    // versions; the three-tier manifest split pinned TRUE
    "q318_txlog_delete_where" ->
      """WITH src AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS pr,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |mx AS (SELECT max(k) AS m FROM src),
        |del AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_del
        |  FROM src, mx WHERE k >= m // 4 + 1 AND k <= m // 2 + m // 8),
        |live AS (
        |  SELECT pr, cents FROM src, mx
        |  WHERE NOT (k >= m // 4 + 1 AND k <= m // 2 + m // 8))
        |SELECT pr AS o_orderpriority, CAST(count(*) AS BIGINT) AS n_live,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents, true AS tiers_ok,
        |  (SELECT n_del FROM del) AS n_cdf_deletes,
        |  CAST(5 AS BIGINT) AS n_versions
        |FROM live GROUP BY 1""".stripMargin,

    // SQL TVF surface: live = orders minus k%21=6 (the dv delete), read
    // THROUGH spark.sql over graft_txlog; v0 count = the evens; the CDF
    // delete count re-derived; v0..v2 = 3 versions
    "q325_txlog_sql_tvf" ->
      """WITH src AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS pr,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |v0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM src WHERE k % 2 = 0),
        |del AS (SELECT CAST(count(*) AS BIGINT) AS n FROM src WHERE k % 21 = 6),
        |live AS (SELECT pr, cents FROM src WHERE k % 21 != 6)
        |SELECT pr AS o_orderpriority, CAST(count(*) AS BIGINT) AS n_live,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  (SELECT n FROM v0) AS n_v0, (SELECT n FROM del) AS n_cdf_deletes,
        |  CAST(3 AS BIGINT) AS n_versions
        |FROM live GROUP BY 1""".stripMargin,

    // materialize + dry run: live = orders minus the k%11=5 rows in the
    // first two thirds of the key range; metadata count re-derived; four
    // contracts pinned; v0..v5 = 6 versions
    "q324_txlog_materialize" ->
      """WITH src AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS pr,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |mx AS (SELECT max(k) AS m FROM src),
        |live AS (
        |  SELECT pr, cents FROM src, mx
        |  WHERE NOT (k % 11 = 5 AND k <= m // 3 * 2)),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM live)
        |SELECT pr AS o_orderpriority, CAST(count(*) AS BIGINT) AS n_live,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  (SELECT n FROM tot) AS fast_count,
        |  true AS materialize_ok, true AS feed_empty, true AS dry_run_ok,
        |  CAST(6 AS BIGINT) AS n_versions
        |FROM live GROUP BY 1""".stripMargin,

    // merge: untouched rows + updated survivors (+1 cents, minus the
    // kill tier) + the re-keyed inserts; three CDF counts re-derived;
    // the kept-segment contract pinned; v0..v2 = 3 versions
    "q322_txlog_merge" ->
      """WITH src AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS pr,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |mx AS (SELECT max(k) AS m FROM src),
        |live AS (
        |  SELECT pr, cents FROM src, mx WHERE NOT (k % 10 = 0 AND k <= m // 2)
        |  UNION ALL
        |  SELECT pr, cents + 1 FROM src, mx
        |  WHERE k % 10 = 0 AND k <= m // 2 AND k % 40 != 0
        |  UNION ALL
        |  SELECT pr, cents FROM src, mx WHERE k % 10 = 3 AND k <= m // 2),
        |cdf AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN k % 10 = 0 AND k % 40 != 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_upd,
        |    CAST(SUM(CASE WHEN k % 10 = 0 AND k % 40 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_del,
        |    CAST(SUM(CASE WHEN k % 10 = 3 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_ins
        |  FROM src, mx WHERE k <= m // 2)
        |SELECT pr AS o_orderpriority, CAST(count(*) AS BIGINT) AS n_live,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  (SELECT n_upd FROM cdf) AS n_cdf_updates,
        |  (SELECT n_del FROM cdf) AS n_cdf_deletes,
        |  (SELECT n_ins FROM cdf) AS n_cdf_inserts,
        |  true AS kept_ok, CAST(3 AS BIGINT) AS n_versions
        |FROM live GROUP BY 1""".stripMargin,

    // restore: live = ALL orders (the rollback target); the undo feed's
    // counts re-derived — resurrected deletes plus reverted updates in,
    // the bad updated images out; v0..v4 = 5 versions
    "q323_txlog_restore" ->
      """WITH src AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS pr,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |undo AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN k % 9 = 4 THEN 1 ELSE 0 END) +
        |      SUM(CASE WHEN k % 20 = 0 AND k % 9 != 4 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_ins,
        |    CAST(SUM(CASE WHEN k % 20 = 0 AND k % 9 != 4 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_del
        |  FROM src)
        |SELECT pr AS o_orderpriority, CAST(count(*) AS BIGINT) AS n_live,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  (SELECT n_ins FROM undo) AS n_undo_inserts,
        |  (SELECT n_del FROM undo) AS n_undo_deletes,
        |  true AS no_data_moved, true AS history_intact, true AS fast_count_ok,
        |  CAST(5 AS BIGINT) AS n_versions
        |FROM src GROUP BY 1""".stripMargin,

    // fast count: live = orders minus k%13=2, +1 cents on the k%40=0
    // survivors; the metadata count re-derived as a scalar and pinned
    // equal to the scan; v0..v3 = 4 versions
    "q321_txlog_fast_count" ->
      """WITH src AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS pr,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |live AS (
        |  SELECT pr,
        |    cents + CASE WHEN k % 40 = 0 AND k % 13 != 2 THEN 1 ELSE 0 END
        |      AS cents
        |  FROM src WHERE k % 13 != 2),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM live)
        |SELECT pr AS o_orderpriority, CAST(count(*) AS BIGINT) AS n_live,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  (SELECT n FROM tot) AS fast_count,
        |  true AS fast_equals_scan, CAST(4 AS BIGINT) AS n_versions
        |FROM live GROUP BY 1""".stripMargin,

    // deletion vectors: live = orders minus k%17=3, +1 cents on the
    // slice-1 k%20=0 survivors; the CDF delete count re-derived; the
    // three dv contracts pinned TRUE; v0..v5 = 6 versions
    "q320_txlog_deletion_vectors" ->
      """WITH src AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS pr,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |mx AS (SELECT max(k) AS m FROM src),
        |del AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_del FROM src WHERE k % 17 = 3),
        |live AS (
        |  SELECT pr,
        |    cents + CASE WHEN k <= m // 3 AND k % 20 = 0 THEN 1 ELSE 0 END
        |      AS cents
        |  FROM src, mx WHERE k % 17 != 3)
        |SELECT pr AS o_orderpriority, CAST(count(*) AS BIGINT) AS n_live,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  (SELECT n_del FROM del) AS n_cdf_deletes,
        |  true AS dv_ok, true AS cow_kept_dvs, true AS materialized_ok,
        |  CAST(6 AS BIGINT) AS n_versions
        |FROM live GROUP BY 1""".stripMargin,

    // string skipping: live = docs above the deleted first third, +1
    // n_chars on the ten upserted slice-2 ids; slice-3 count re-derived;
    // the four skipping contracts pinned TRUE; v0..v4 = 5 versions
    "q319_txlog_string_skipping" ->
      """WITH src AS (
        |  SELECT doc_id AS i, source, n_chars FROM documents),
        |mx AS (SELECT max(i) AS m FROM src),
        |live AS (
        |  SELECT source,
        |    n_chars + CASE WHEN i > m // 3 AND i <= m // 3 + 10
        |      THEN 1 ELSE 0 END AS n_chars
        |  FROM src, mx WHERE i > m // 3),
        |s3 AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n FROM src, mx
        |  WHERE i > m // 3 * 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  (SELECT n FROM s3) AS n_slice3,
        |  true AS cow_kept, true AS tiers_ok, true AS pruned_ok,
        |  CAST(5 AS BIGINT) AS n_versions
        |FROM live GROUP BY 1""".stripMargin,

    // retraction follower: final state = all orders (+1 cents where
    // k%20=0, the upsert) minus the emptied bucket 5; both advances and
    // the exactly-once skip pinned TRUE; v0..v4 = 5 source versions
    // index-follows-table: five composed lifecycle contracts pinned,
    // incl. the shard-scoped kept-verbatim manifest pin (r10 verdict #1)
    "q326_index_follows_table" ->
      """SELECT vec_id AS query_id, true AS recall_ok, true AS exactly_once_ok,
        |  true AS coverage_ok, true AS updates_and_erasures_ok,
        |  true AS kept_verbatim_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin,

    // ivf-pq follower: recall/coverage/append-shape/exactly-once pinned
    "q333_ivfpq_follows_table" ->
      """SELECT vec_id AS query_id, true AS recall_ok, true AS exactly_once_ok,
        |  true AS coverage_ok, true AS append_shaped_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin,

    // minhash follower: live per-lang counts (all docs minus the dv-erased
    // ids); state-equals-rebuild + exactly-once pinned
    "q332_minhash_follows_table" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  true AS state_equals_rebuild, true AS exactly_once_ok
        |FROM documents WHERE doc_id % 17 != 3 GROUP BY 1""".stripMargin,

    // scoped optimize: full content identity (appends never drop rows);
    // v0..v3 = 4 versions (the nothing-to-do call commits NOTHING);
    // kept-verbatim / noop / skipping pinned
    "q327_txlog_optimize_scoped" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(4 AS BIGINT) AS n_versions,
        |  true AS kept_verbatim_ok, true AS noop_ok, true AS where_ok
        |FROM orders GROUP BY 1""".stripMargin,

    // concurrent appends: all eight slices land (content = full table),
    // zero recomputes and contiguous versions pinned
    "q328_txlog_concurrent_appends" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  true AS versions_contiguous, true AS zero_recomputes
        |FROM orders GROUP BY 1""".stripMargin,

    // timestamp index: content = all 12 slices; parse-flat + as-of pinned
    "q329_txlog_ts_index" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(12 AS BIGINT) AS n_versions, true AS flat_ok, true AS asof_ok
        |FROM orders GROUP BY 1""".stripMargin,

    // change-stream adapter: dst content = the whole source; 3 batches +
    // caught-up 0 pinned; dst log = create + 3 keyed commits
    "q330_txlog_change_stream" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  true AS batches_ok, CAST(4 AS BIGINT) AS n_dst_versions
        |FROM orders GROUP BY 1""".stripMargin,

    // native source→sink pipeline: piped content = full orders; the
    // checkpointed resume + caught-up-commits-nothing pinned
    "q340_txlog_stream_pipe" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  true AS resume_ok
        |FROM orders GROUP BY 1""".stripMargin,

    // replica advance serve gate: one advance drains an append (%3=2) and
    // a COW upsert (cents+5 on %50=1) — content = all orders with the
    // upserted cents; one keyed commit pinned
    "q343_replica_advance_serve" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CASE WHEN o_orderkey % 50 = 1
        |    THEN CAST(round(o_totalprice * 100) AS BIGINT) + 5
        |    ELSE CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS sum_cents,
        |  true AS advance_ok
        |FROM orders GROUP BY 1""".stripMargin,

    // write-audit-publish: evens created on the root, odds staged on the
    // branch and published — content = ALL orders; isolation, single
    // publish_append commit, and noop re-publish pinned
    "q344_txlog_branch_wap" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  true AS wap_ok
        |FROM orders GROUP BY 1""".stripMargin,

    // tag travel: the tagged v0 is the untouched full snapshot, served
    // through readTagged even after vacuum pushed the floor past it;
    // sub-floor read refusal and head-differs pinned
    "q345_txlog_tag_travel" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  true AS tag_ok
        |FROM orders GROUP BY 1""".stripMargin,

    // CHECK constraint: %3=0,1 keep original cents, the violating %3=2
    // batch lands only after the drop (negated-minus-one); refusal,
    // nothing-committed, and visibility pinned
    "q346_txlog_check_constraint" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CASE WHEN o_orderkey % 3 = 2
        |    THEN -CAST(round(o_totalprice * 100) AS BIGINT) - 1
        |    ELSE CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS sum_cents,
        |  true AS check_ok
        |FROM orders GROUP BY 1""".stripMargin,

    // atomic multi-table publish: both tables converge to ALL orders
    // through the crash-recovery barrier; labeled per-table aggregates
    "q348_txlog_atomic_publish" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  'a' AS tbl, true AS atomic_ok
        |FROM orders GROUP BY 1
        |UNION ALL
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  'b' AS tbl, true AS atomic_ok
        |FROM orders GROUP BY 1""".stripMargin,

    // SQL refs surface: evens created, odds staged + published under a
    // CHECK — content = all orders; EXPLAIN-inertness, publish op, and
    // tag version pinned
    "q347_txlog_refs_sql" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  true AS refs_ok
        |FROM orders GROUP BY 1""".stripMargin,

    // SQL replicate procedure: keys %4<=2 survive except (%4=1 AND %5=0)
    // deleted; %8=1 keys carry the upserted cents+11; batch counts,
    // EXPLAIN inertness, and replica≡source pinned
    "q342_txlog_replicate_sql" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CASE WHEN o_orderkey % 8 = 1
        |    THEN CAST(round(o_totalprice * 100) AS BIGINT) + 11
        |    ELSE CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS sum_cents,
        |  true AS batches_ok, true AS explain_inert, true AS converged
        |FROM orders
        |WHERE o_orderkey % 4 <= 2
        |  AND NOT (o_orderkey % 4 = 1 AND o_orderkey % 5 = 0)
        |GROUP BY 1""".stripMargin,

    // cdc replica: keys %5<=3 survive except (%5=2 AND %3=0) deleted;
    // %10=1 keys carry the upserted cents+7; replica≡source pinned
    "q341_txlog_cdc_replica" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CASE WHEN o_orderkey % 10 = 1
        |    THEN CAST(round(o_totalprice * 100) AS BIGINT) + 7
        |    ELSE CAST(round(o_totalprice * 100) AS BIGINT) END) AS BIGINT) AS sum_cents,
        |  true AS converged
        |FROM orders
        |WHERE o_orderkey % 5 <= 3
        |  AND NOT (o_orderkey % 5 = 2 AND o_orderkey % 3 = 0)
        |GROUP BY 1""".stripMargin,

    // n-dim (Hilbert) optimize: full content identity; v0..v3 = 4
    // versions; kept-verbatim + third-dim skipping pinned
    "q339_txlog_optimize_ndim" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  CAST(4 AS BIGINT) AS n_versions,
        |  true AS kept_verbatim_ok, true AS where_ok
        |FROM orders GROUP BY 1""".stripMargin,

    // follower SQL procedures: actions/versions/EXPLAIN-inert/coverage
    // pinned; content = the filtered corpus bucketed
    "q338_txlog_follow_sql" ->
      """SELECT CAST(vec_id % 10 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_vecs,
        |  true AS actions_ok, true AS explain_inert, true AS coverage_ok
        |FROM embeddings WHERE vec_id % 3 = 0 GROUP BY 1""".stripMargin,

    // follower serve gates (q267 discipline): staged followed state, the
    // query only loads and searches/probes
    "q335_follower_hnsw_serve" ->
      """SELECT vec_id AS query_id, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin,

    "q336_follower_minhash_serve" ->
      """SELECT doc_id + 1000000 AS doc_id, CAST('1' AS DOUBLE) AS source_jaccard
        |FROM documents WHERE doc_id % 7 = 0""".stripMargin,

    "q337_follower_ivfpq_serve" ->
      """SELECT vec_id AS query_id, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin,

    // native streaming source: drained content = full orders; the
    // checkpointed resume consumed only the new range (pinned)
    "q334_txlog_stream_source" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  true AS resume_ok
        |FROM orders GROUP BY 1""".stripMargin,

    // SQL write surface: restore lands on the post-merge state (cents+1
    // where k%10=3, the delete undone); merge/restore/explain pinned;
    // v0 create + merge + delete + restore = 4 versions
    "q331_txlog_sql_writes" ->
      """WITH src AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS pr,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT pr AS o_orderpriority, CAST(count(*) AS BIGINT) AS n_live,
        |  CAST(SUM(cents + CASE WHEN k % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS sum_cents,
        |  true AS merge_ok, true AS restore_ok, true AS explain_inert,
        |  CAST(4 AS BIGINT) AS n_versions
        |FROM src GROUP BY 1""".stripMargin,

    "q317_txlog_follow_retract" ->
      """WITH src AS (
        |  SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |live AS (
        |  SELECT k, cents + CASE WHEN k % 20 = 0 THEN 1 ELSE 0 END AS cents
        |  FROM src WHERE k % 100 != 5)
        |SELECT CAST(k % 100 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  true AS advanced_ok, true AS caught_up_skipped,
        |  CAST(5 AS BIGINT) AS n_src_versions
        |FROM live GROUP BY 1""".stripMargin,

    // round-9 capstone: evens (+1 cents where k%20=0, the upsert) plus all
    // odds (the stream slices), minus the k≡1 (mod 30) delete; v0..v7 = 8
    // versions; the seven lifecycle contracts pinned TRUE
    "q315_lakehouse_cow_capstone" ->
      """WITH src AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS pr,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |live AS (
        |  SELECT k, pr,
        |    cents + CASE WHEN k % 20 = 0 THEN 1 ELSE 0 END AS cents
        |  FROM src WHERE k % 30 != 1)
        |SELECT pr AS o_orderpriority, CAST(count(*) AS BIGINT) AS n_live,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  CAST(8 AS BIGINT) AS n_versions,
        |  true AS replay_skipped, true AS cow_kept_streams, true AS cdf_ok,
        |  true AS ts_travel_ok, true AS packed_ok, true AS orphan_swept,
        |  true AS floor_ok
        |FROM live GROUP BY 1""".stripMargin,

    // SQ ingest: recall + coverage + drift-refusal contracts pinned
    "q311_knn_sq_ingest" ->
      """SELECT vec_id AS query_id, true AS recall_ok, true AS coverage_ok,
        |  true AS drift_refused
        |FROM embeddings WHERE vec_id < 5""".stripMargin,

    // optimize: content identity per custkey bucket; v0..v1 = 2 versions;
    // the Z-order op + row-group skipping contract pinned TRUE
    "q304_txlog_optimize" ->
      """WITH src AS (
        |  SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT CAST(o_custkey % 10 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  CAST(2 AS BIGINT) AS n_versions,
        |  true AS op_ok, true AS skipping_ok
        |FROM src GROUP BY 1""".stripMargin,

    // change feed: the %3 splits replayed with literal commit versions
    // (v0's create rows are NOT changes)
    "q305_txlog_changefeed" ->
      """WITH src AS (
        |  SELECT o_orderkey AS k, o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT CAST(v AS BIGINT) AS _commit_version, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents
        |FROM (
        |  SELECT 1 AS v, o_orderpriority, cents FROM src WHERE k % 3 = 1
        |  UNION ALL
        |  SELECT 2 AS v, o_orderpriority, cents FROM src WHERE k % 3 = 2)
        |GROUP BY 1, 2""".stripMargin,

    // IVF-PQ ingest: recall + coverage contracts pinned
    "q307_knn_ivfpq_ingest" ->
      """SELECT vec_id AS query_id, true AS recall_ok, true AS coverage_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin,

    // delete-list serving: recall + no-tombstone contracts pinned
    "q306_knn_hnsw_deletes" ->
      """SELECT vec_id AS query_id, true AS recall_ok,
        |  true AS no_tombstones_served
        |FROM embeddings WHERE vec_id < 5""".stripMargin,

    // filtered IVF-PQ: the q158/q298 contract through the composed tier
    "q302_knn_ivfpq_filtered" ->
      """SELECT vec_id AS query_id, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin,

    // incremental ingest: recall contract + merge-equals-rebuild pinned
    "q301_knn_hnsw_ingest" ->
      """SELECT vec_id AS query_id, true AS recall_ok,
        |  true AS merge_equals_rebuild
        |FROM embeddings WHERE vec_id < 5""".stripMargin,

    // TxLog stream sink: snapshot == batch table; create + 3 micro-batch
    // commits; the replayed batch must have been skipped
    "q294_txlog_stream_sink" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(4 AS BIGINT) AS n_commits, true AS replay_skipped
        |FROM documents GROUP BY 1""".stripMargin,

    // PCA contract: all four per-component invariants pinned TRUE
    "q296_pca_contract" ->
      """SELECT CAST(unnest(generate_series(0, 7)) AS BIGINT) AS component,
        |  true AS norm_ok, true AS orth_ok, true AS order_ok,
        |  true AS variance_match_ok""".stripMargin,

    // Bloom no-false-negative contract: flagged >= exact for every train doc
    "q297_bloom_contract" ->
      """SELECT doc_id, true AS superset_ok FROM documents
        |WHERE doc_id % 50 != 0 AND length(trim(text)) > 0""".stripMargin,

    // incremental state over append deltas == from-scratch over the union
    "q295_txlog_incremental_agg" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders GROUP BY 1""".stripMargin,

    // TxLog lifecycle: the composed commits reduce to one live-set
    // predicate — keys %4<2 (create+append) plus %20=6 inserts, +1 cents
    // where the upsert touched (%20 in {0,6}), minus %100=8 deletes;
    // n_versions is the pinned commit count (v0..v4)
    "q291_txlog_lifecycle" ->
      """WITH src AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS pr,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |live AS (
        |  SELECT k, pr,
        |    cents + CASE WHEN k % 20 = 0 OR k % 20 = 6 THEN 1 ELSE 0 END AS cents
        |  FROM src WHERE (k % 4 < 2 OR k % 20 = 6) AND k % 100 != 8)
        |SELECT pr AS o_orderpriority, CAST(count(*) AS BIGINT) AS n_live,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  CAST(5 AS BIGINT) AS n_versions
        |FROM live GROUP BY 1""".stripMargin,

    // vacuum lifecycle: keys %2 in {0,1} = everything, +1 cents where
    // %10=0 (upsert), minus %50=3 (delete); v0..v4 = 5 versions; the four
    // vacuum contract booleans pinned TRUE
    "q299_txlog_vacuum" ->
      """WITH src AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS pr,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |live AS (
        |  SELECT k, pr,
        |    cents + CASE WHEN k % 10 = 0 THEN 1 ELSE 0 END AS cents
        |  FROM src WHERE k % 50 != 3)
        |SELECT pr AS o_orderpriority, CAST(count(*) AS BIGINT) AS n_live,
        |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
        |  CAST(5 AS BIGINT) AS n_versions,
        |  true AS floor_ok, true AS vacuumed_gone,
        |  true AS retained_readable, true AS segments_reclaimed
        |FROM live GROUP BY 1""".stripMargin,

    // two-generation union: even doc_ids carry no text_len (NULL), odd
    // ones carry length(text)
    "q300_txlog_schema_evolution" ->
      """WITH merged AS (
        |  SELECT doc_id, source, CAST(NULL AS BIGINT) AS text_len
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, source, CAST(length(text) AS BIGINT)
        |  FROM documents WHERE doc_id % 2 = 1)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(text_len) AS BIGINT) AS n_with_len,
        |  CAST(COALESCE(SUM(text_len), 0) AS BIGINT) AS sum_len
        |FROM merged GROUP BY 1""".stripMargin,

    // frame-split scene stats: q272's closed-form gray plan on the
    // longer-clip fixture (5 scenes x 2 frames, doc_id % 7 = 5)
    "q290_mjpeg_frame_split" ->
      """WITH sel AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 5),
        |sc AS (
        |  SELECT sel.doc_id, ss.s,
        |    CASE WHEN (sel.doc_id*13 + ss.s*7) % 3 = 0 THEN 0 ELSE 1 END AS br
        |  FROM sel CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS s) ss
        |), cuts AS (
        |  SELECT doc_id, s, br,
        |    lag(br) OVER (PARTITION BY doc_id ORDER BY s) AS pbr
        |  FROM sc
        |), agg AS (
        |  SELECT doc_id,
        |    CAST(SUM(br) * 2 AS BIGINT) AS n_bright,
        |    CAST(SUM(CASE WHEN pbr IS NOT NULL AND br != pbr THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
        |    CAST(COALESCE(MIN(CASE WHEN pbr IS NOT NULL AND br != pbr THEN s * 2 END), -1) AS INT) AS first_cut
        |  FROM cuts GROUP BY 1)
        |SELECT doc_id, CAST(10 AS BIGINT) AS n_frames, 16 AS width, 12 AS height,
        |  n_bright, n_cuts, first_cut
        |FROM agg""".stripMargin,

    // real AVI frame sampling: stride-3 frames of the 3x4-frame plan;
    // scene of frame f is f // 4, brightness from the planted gray plan
    "q71_multimodal_frames" ->
      """WITH sel AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 1),
        |fr AS (SELECT unnest([0, 3, 6, 9]) AS f)
        |SELECT sel.doc_id, CAST(fr.f AS INT) AS frame_idx,
        |  16 AS width, 12 AS height,
        |  ((sel.doc_id*13 + (fr.f // 4)*7) % 3 != 0) AS is_bright
        |FROM sel CROSS JOIN fr""".stripMargin,

    // nDCG@10: q265's truth/candidate rankings + the pinned integer
    // discount table round(1e9/log2(r+1)); rel = (11 - truth_rank) // 3
    "q273_ndcg_eval" ->
      """WITH q AS (SELECT * FROM embeddings WHERE vec_id < 5),
        |truth AS (
        |  SELECT query_id, neighbor_id, rank, (11 - rank) // 3 AS rel FROM (
        |    SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        CASE WHEN list_dot_product(d.embedding::DOUBLE[], d.embedding::DOUBLE[]) = 0
        |               OR list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) = 0 THEN 0.0
        |             ELSE list_dot_product(d.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
        |                  (sqrt(list_dot_product(d.embedding::DOUBLE[], d.embedding::DOUBLE[])) *
        |                   sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))) END
        |        DESC, d.vec_id) AS rank
        |    FROM embeddings d CROSS JOIN q)
        |  WHERE rank <= 10),
        |cand AS (
        |  SELECT query_id, neighbor_id, rank FROM (
        |    SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_dot_product(d.embedding::DOUBLE[], q.embedding::DOUBLE[])
        |        DESC, d.vec_id) AS rank
        |    FROM embeddings d CROSS JOIN q)
        |  WHERE rank <= 10),
        |wt AS (SELECT * FROM (VALUES
        |  (1, 1000000000), (2, 630929754), (3, 500000000), (4, 430676558),
        |  (5, 386852807), (6, 356207187), (7, 333333333), (8, 315464877),
        |  (9, 301029996), (10, 289064826)) w(r, wv)),
        |idcg AS (
        |  SELECT query_id, CAST(SUM(t.rel * wt.wv) AS BIGINT) AS idcg_scaled
        |  FROM truth t JOIN wt ON wt.r = t.rank GROUP BY 1),
        |dcg AS (
        |  SELECT c.query_id, CAST(SUM(t.rel * wt.wv) AS BIGINT) AS dcg_scaled
        |  FROM cand c
        |  JOIN truth t ON c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id
        |  JOIN wt ON wt.r = c.rank
        |  GROUP BY 1)
        |SELECT i.query_id, COALESCE(d.dcg_scaled, 0) AS dcg_scaled, i.idcg_scaled,
        |  CASE WHEN i.idcg_scaled = 0 THEN CAST('0' AS DOUBLE)
        |       ELSE CAST(COALESCE(d.dcg_scaled, 0) AS DOUBLE) /
        |            CAST(i.idcg_scaled AS DOUBLE) END AS ndcg
        |FROM idcg i LEFT JOIN dcg d ON i.query_id = d.query_id""".stripMargin,

    // expression-path G.711: the q270 expansion formulas, integer sums only
    "q283_g711_sql_expand" ->
      """WITH smp AS (
        |  SELECT d.doc_id, ii.i, (d.doc_id*7 + ii.i*3) % 256 AS cd
        |  FROM documents d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 799)) AS i) ii
        |), mu AS (
        |  SELECT doc_id, i, 255 - cd AS u, CAST(xor(cd, 85) AS BIGINT) AS a FROM smp
        |), mg AS (
        |  SELECT doc_id, i, u, a,
        |    ((u % 16) * 8 + 132) * (1 << ((u // 16) % 8)) AS mt,
        |    CASE WHEN (a // 16) % 8 = 0 THEN (a % 16) * 16 + 8
        |         ELSE ((a % 16) * 16 + 264) * (1 << ((a // 16) % 8 - 1)) END AS am
        |  FROM mu
        |), v AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0
        |         THEN CASE WHEN u >= 128 THEN 132 - mt ELSE mt - 132 END
        |         ELSE CASE WHEN a >= 128 THEN am ELSE -am END END AS v
        |  FROM mg)
        |SELECT doc_id, CAST(800 AS BIGINT) AS n_samples,
        |  CAST(SUM(v) AS BIGINT) AS sum_amp,
        |  CAST(SUM(v*v) AS BIGINT) AS energy
        |FROM v GROUP BY doc_id""".stripMargin,

    // privacy release chain: suppression classes with n>=3 survive, then
    // the same salted digests, rolled up per class
    "q282_privacy_release" ->
      """WITH cls AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS cn
        |  FROM customer GROUP BY 1, 2),
        |keep AS (
        |  SELECT c.c_nationkey, c.c_mktsegment, c.c_name
        |  FROM customer c
        |  JOIN cls ON cls.c_nationkey = c.c_nationkey
        |    AND cls.c_mktsegment = c.c_mktsegment
        |  WHERE cls.cn >= 3),
        |ps AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    sha256('graft-release-1' || '|' || c_name) AS tok
        |  FROM keep)
        |SELECT c_nationkey, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT tok) AS BIGINT) AS n_tokens,
        |  min(tok) AS sample_token
        |FROM ps GROUP BY 1, 2""".stripMargin,

    // exact overlap matrix: every bitmap cardinality is a COUNT DISTINCT;
    // or/andnot derive by inclusion-exclusion over exact counts
    "q284_bitmap_segments" ->
      """WITH seg AS (SELECT DISTINCT event_type, user_id FROM events),
        |card AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c FROM seg GROUP BY 1),
        |inter AS (
        |  SELECT x.event_type AS sa, y.event_type AS sb, CAST(count(*) AS BIGINT) AS i
        |  FROM seg x JOIN seg y
        |    ON x.user_id = y.user_id AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT ca.event_type AS seg_a, cb.event_type AS seg_b,
        |  ca.c AS card_a, cb.c AS card_b,
        |  COALESCE(i.i, 0) AS and_count,
        |  ca.c + cb.c - COALESCE(i.i, 0) AS or_count,
        |  ca.c - COALESCE(i.i, 0) AS andnot_count
        |FROM card ca
        |JOIN card cb ON ca.event_type < cb.event_type
        |LEFT JOIN inter i ON i.sa = ca.event_type AND i.sb = cb.event_type""".stripMargin,

    // 2-d dominance replayed in O(n log n): a row is dominated iff the
    // running max discount over STRICTLY higher prices reaches it, or a
    // same-price row has a strictly higher discount — never a quadratic
    // NOT EXISTS
    "q285_skyline_frontier" ->
      """WITH g AS (
        |  SELECT l_extendedprice AS p, max(l_discount) AS md
        |  FROM lineitem GROUP BY 1),
        |c AS (
        |  SELECT p, md, max(md) OVER (ORDER BY p DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cm
        |  FROM g)
        |SELECT t.l_orderkey, t.l_linenumber, t.l_extendedprice, t.l_discount
        |FROM lineitem t JOIN c ON t.l_extendedprice = c.p
        |WHERE (c.cm IS NULL OR c.cm < t.l_discount)
        |  AND NOT (c.md > t.l_discount)""".stripMargin,

    "q287_skyline_pergroup" ->
      """WITH g AS (
        |  SELECT l_returnflag AS f, l_quantity AS q, max(l_extendedprice) AS mp
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT f, q, mp, max(mp) OVER (PARTITION BY f ORDER BY q DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cm
        |  FROM g)
        |SELECT t.l_returnflag, t.l_orderkey, t.l_linenumber,
        |  t.l_quantity, t.l_extendedprice
        |FROM lineitem t JOIN c ON t.l_returnflag = c.f AND t.l_quantity = c.q
        |WHERE (c.cm IS NULL OR c.cm < t.l_extendedprice)
        |  AND NOT (c.mp > t.l_extendedprice)""".stripMargin,

    // q213's cluster chain (same fixture, same recursive-CTE components)
    // + deterministic survivorship: every arg-max breaks ties on the
    // value itself (DESC), matching max_by(v, struct(ord, v)) exactly
    "q286_golden_records" ->
      """WITH RECURSIVE k AS (
        |  SELECT doc_id AS id,
        |    CASE CAST(doc_id % 4 AS INT)
        |      WHEN 0 THEN substr(md5(CAST(doc_id // 4 AS VARCHAR)), 1, 10)
        |      WHEN 1 THEN substr(md5(CAST(doc_id // 4 AS VARCHAR)), 1, 10) || 'x'
        |      WHEN 2 THEN substr(md5(CAST(doc_id // 4 AS VARCHAR)), 1, 9) || 'zz'
        |      ELSE substr(md5(CAST(doc_id // 4 AS VARCHAR)), 1, 8)
        |        || substr(md5(CAST(doc_id // 4 AS VARCHAR)), 10, 1)
        |        || substr(md5(CAST(doc_id // 4 AS VARCHAR)), 9, 1)
        |    END AS nm
        |  FROM documents),
        |kb AS (SELECT id, nm, substr(nm, 1, 2) AS blk FROM k),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM kb a JOIN kb b ON a.blk = b.blk AND a.id < b.id
        |  WHERE jaro_winkler_similarity(a.nm, b.nm) >= 0.9),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |comp(id, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, c.label FROM comp c JOIN edges e ON c.id = e.src),
        |lab AS (SELECT id AS doc_id, min(label) AS cluster_id FROM comp GROUP BY id),
        |recs AS (
        |  SELECT l.cluster_id, d.doc_id, d.lang, d.source, d.text, d.n_chars
        |  FROM lab l JOIN documents d ON l.doc_id = d.doc_id),
        |flang AS (
        |  SELECT cluster_id, lang FROM (
        |    SELECT cluster_id, lang, row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY count(*) DESC, lang DESC) AS rn
        |    FROM recs WHERE lang IS NOT NULL GROUP BY cluster_id, lang)
        |  WHERE rn = 1),
        |fsource AS (
        |  SELECT cluster_id, source FROM (
        |    SELECT cluster_id, source, row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY count(*) DESC, source DESC) AS rn
        |    FROM recs WHERE source IS NOT NULL GROUP BY cluster_id, source)
        |  WHERE rn = 1),
        |ftext AS (
        |  SELECT cluster_id, text FROM (
        |    SELECT cluster_id, text, row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY len(text) DESC, text DESC) AS rn
        |    FROM recs WHERE text IS NOT NULL)
        |  WHERE rn = 1),
        |agg AS (
        |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
        |    min(doc_id) AS rep_id, max(n_chars) AS max_chars
        |  FROM recs GROUP BY 1)
        |SELECT a.cluster_id, a.n_members, a.rep_id, fl.lang, fs.source,
        |  ft.text, a.max_chars
        |FROM agg a
        |LEFT JOIN flang fl ON a.cluster_id = fl.cluster_id
        |LEFT JOIN fsource fs ON a.cluster_id = fs.cluster_id
        |LEFT JOIN ftext ft ON a.cluster_id = ft.cluster_id""".stripMargin,

    // full resampling-distribution replay: same md5 draws, same pinned
    // Poisson CDF hex thresholds, same order-statistic index rule
    "q289_bootstrap_ci" ->
      """WITH src AS (
        |  SELECT c_mktsegment AS g, c_custkey AS id,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer),
        |bs AS (SELECT unnest(generate_series(0, 199)) AS b),
        |drawn AS (
        |  SELECT g, b, cents,
        |    CASE
        |      WHEN h < '5e2d58d8b3bce' THEN 0
        |      WHEN h < 'bc5ab1b16779c' THEN 1
        |      WHEN h < 'eb715e1dc1583' THEN 2
        |      WHEN h < 'fb23979734a25' THEN 3
        |      WHEN h < 'ff1025f59174e' THEN 4
        |      WHEN h < 'ffd90f3ba4056' THEN 5
        |      WHEN h < 'fffa8b71fc72c' THEN 6
        |      WHEN h < 'ffff540c0914b' THEN 7
        |      WHEN h < 'ffffed1f4aa8f' THEN 8
        |      ELSE 9 END AS w
        |  FROM (
        |    SELECT g, b, cents,
        |      substr(md5('graft-bs-1:' || CAST(id AS VARCHAR) || ':' ||
        |        CAST(b AS VARCHAR)), 1, 13) AS h
        |    FROM src CROSS JOIN bs)),
        |part AS (
        |  SELECT g, b, sum(w * cents) AS swc, sum(w) AS sw
        |  FROM drawn GROUP BY 1, 2 HAVING sum(w) > 0),
        |means AS (
        |  SELECT g, b, CAST(swc AS DOUBLE) / CAST(sw AS DOUBLE) AS m FROM part),
        |ranked AS (
        |  SELECT g, b, m,
        |    row_number() OVER (PARTITION BY g ORDER BY m, b) AS rn,
        |    count(*) OVER (PARTITION BY g) AS beff
        |  FROM means),
        |ci AS (
        |  SELECT g, CAST(max(beff) AS BIGINT) AS b_eff,
        |    max(CASE WHEN rn = CAST(floor((beff - 1) * CAST('0.025' AS DOUBLE)) AS BIGINT) + 1
        |             THEN m END) AS ci_lo,
        |    max(CASE WHEN rn = CAST(floor((beff - 1) * CAST('0.975' AS DOUBLE)) AS BIGINT) + 1
        |             THEN m END) AS ci_hi
        |  FROM ranked GROUP BY 1),
        |stat AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_cents
        |  FROM src GROUP BY 1)
        |SELECT s.g AS c_mktsegment, s.n_rows, s.mean_cents,
        |  ci.ci_lo, ci.ci_hi, ci.b_eff
        |FROM stat s JOIN ci ON s.g = ci.g""".stripMargin,

    // replay against the RAW fact — a wrong rollup rewrite hash-fails here
    "q288_rollup_rewrite" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) AS sum_qty,
        |  CAST(min(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS min_price,
        |  CAST(max(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS max_price
        |FROM lineitem WHERE l_linestatus = 'F' GROUP BY 1""".stripMargin,

    // salted SHA-256 pseudonyms: DuckDB recomputes the identical digests
    "q274_pseudonymize" ->
      """SELECT c_custkey,
        |  sha256('graft-release-1' || '|' || c_name) AS c_name,
        |  sha256('graft-release-1' || '|' ||
        |    lower(regexp_replace(c_name, '[^A-Za-z0-9]+', '.', 'g')) || '@example.com')
        |    AS c_email,
        |  c_nationkey
        |FROM customer""".stripMargin,

    // Holt recurrence replayed as a recursive CTE: seed (l=y0, b=y1-y0),
    // then l' = 0.5*y + 0.5*(l+b); b' = 0.5*(l'-l) + 0.5*b, strictly in
    // series order — identical IEEE evaluation to the engine's loop
    "q275_holt_forecast" ->
      """WITH RECURSIVE d AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |    CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1, 2),
        |i AS (
        |  SELECT event_type, y,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS t
        |  FROM d),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM i GROUP BY 1),
        |rec AS (
        |  SELECT i0.event_type, 0 AS t, i0.y AS l, i1.y - i0.y AS b
        |  FROM (SELECT * FROM i WHERE t = 0) i0
        |  JOIN (SELECT * FROM i WHERE t = 1) i1 USING (event_type)
        |  UNION ALL
        |  SELECT r.event_type, r.t + 1,
        |    0.5 * i.y + 0.5 * (r.l + r.b),
        |    0.5 * ((0.5 * i.y + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b
        |  FROM rec r JOIN i ON i.event_type = r.event_type AND i.t = r.t + 1)
        |SELECT r.event_type, n.n AS n_obs, r.l AS level, r.b AS trend,
        |  r.l + 7 * r.b AS forecast
        |FROM rec r JOIN n ON n.event_type = r.event_type AND r.t = n.n - 1""".stripMargin,

    // Holt backtest: the q275 recursion over the train prefix (all but
    // the last 5 points), then one row per held-out step with the exact
    // forecast/actual/sMAPE expressions
    "q280_holt_backtest" ->
      """WITH RECURSIVE d AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |    CAST(count(*) AS DOUBLE) AS y
        |  FROM events GROUP BY 1, 2),
        |i AS (
        |  SELECT event_type, day, y,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) - 1 AS t
        |  FROM d),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) - 5 AS ntrain
        |  FROM i GROUP BY 1),
        |rec AS (
        |  SELECT i0.event_type, 0 AS t, i0.y AS l, i1.y - i0.y AS b
        |  FROM (SELECT * FROM i WHERE t = 0) i0
        |  JOIN (SELECT * FROM i WHERE t = 1) i1 USING (event_type)
        |  UNION ALL
        |  SELECT r.event_type, r.t + 1,
        |    0.5 * i.y + 0.5 * (r.l + r.b),
        |    0.5 * ((0.5 * i.y + 0.5 * (r.l + r.b)) - r.l) + 0.5 * r.b
        |  FROM rec r
        |  JOIN n ON n.event_type = r.event_type
        |  JOIN i ON i.event_type = r.event_type AND i.t = r.t + 1
        |  WHERE r.t + 1 < n.ntrain),
        |fin AS (
        |  SELECT r.event_type, r.l, r.b, n.ntrain
        |  FROM rec r JOIN n ON n.event_type = r.event_type
        |  WHERE r.t = n.ntrain - 1),
        |steps AS (SELECT unnest(generate_series(1, 5)) AS h)
        |SELECT f.event_type, CAST(h.h AS INT) AS step, i.day AS idx,
        |  i.y AS actual, f.l + h.h * f.b AS forecast,
        |  abs(f.l + h.h * f.b - i.y) AS abs_err,
        |  CASE WHEN abs(f.l + h.h * f.b) + abs(i.y) = 0 THEN CAST('0' AS DOUBLE)
        |       ELSE 2.0 * abs(f.l + h.h * f.b - i.y) /
        |            (abs(f.l + h.h * f.b) + abs(i.y)) END AS smape_term
        |FROM fin f
        |CROSS JOIN steps h
        |JOIN i ON i.event_type = f.event_type AND i.t = f.ntrain - 1 + h.h""".stripMargin,

    // autocorrelation pitch: every lag's integer correlation recomputed
    // from the planted-period formula; argmax ties break to smallest lag
    "q279_audio_periodicity" ->
      """WITH smp AS (
        |  SELECT d.doc_id, ii.i,
        |    ((d.doc_id*3 + (ii.i % (20 + d.doc_id % 11))) * 997) % 4001 - 2000 AS v
        |  FROM documents d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 399)) AS i) ii),
        |lags AS (SELECT unnest(generate_series(10, 35)) AS l),
        |r AS (
        |  SELECT a.doc_id, lags.l, CAST(SUM(a.v * b.v) AS BIGINT) AS r
        |  FROM smp a
        |  JOIN lags ON true
        |  JOIN smp b ON b.doc_id = a.doc_id AND b.i = a.i + lags.l
        |  GROUP BY 1, 2),
        |r0 AS (SELECT doc_id, CAST(SUM(v*v) AS BIGINT) AS r0 FROM smp GROUP BY 1),
        |best AS (
        |  SELECT doc_id, l, r,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY r DESC, l) AS rn
        |  FROM r)
        |SELECT b.doc_id, CAST(b.l AS INT) AS best_lag, b.r AS r_best,
        |  r0.r0 AS r_zero,
        |  CAST(b.r AS DOUBLE) / CAST(r0.r0 AS DOUBLE) AS periodicity
        |FROM best b JOIN r0 USING (doc_id) WHERE rn = 1""".stripMargin,

    // context packing: same exclusive-prefix-sum arithmetic over the q63
    // whitespace token counts, via a plain window at oracle scale
    "q277_context_pack" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |nz AS (SELECT doc_id, n FROM tk WHERE n > 0),
        |c AS (
        |  SELECT doc_id, n,
        |    SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM nz)
        |SELECT doc_id, n AS n_tokens,
        |  CAST((cum - n) // 512 AS BIGINT) AS start_pack,
        |  CAST((cum - n) % 512 AS BIGINT) AS start_offset,
        |  CAST((cum - 1) // 512 AS BIGINT) AS end_pack
        |FROM c""".stripMargin,

    // BPE apply contract: every doc must reconstruct exactly and never
    // grow past its non-space character count
    "q136_bpe_encode" ->
      """SELECT doc_id, true AS roundtrip_ok, true AS compresses_ok
        |FROM documents""".stripMargin,

    // corpus rewrite family: the oracle may use the per-segment window the
    // engine deliberately avoids (DuckDB at sf scale vs 100 TB plans)
    "q137_corpus_segment_dedup" ->
      (segmentCte(3) +
        """, kept AS (
          |  SELECT doc_id, seg, segtext,
          |         row_number() OVER (PARTITION BY segtext ORDER BY doc_id, seg) AS rn
          |  FROM segs)
          |SELECT doc_id, string_agg(segtext, ' ' ORDER BY seg) AS text
          |FROM kept WHERE rn = 1 GROUP BY doc_id""".stripMargin),
    "q138_intradoc_segment_dedup" ->
      (segmentCte(2) +
        """, kept AS (
          |  SELECT doc_id, segtext, min(seg) AS seg FROM segs GROUP BY 1, 2)
          |SELECT doc_id, string_agg(segtext, ' ' ORDER BY seg) AS text
          |FROM kept GROUP BY doc_id""".stripMargin),
    "q139_boilerplate_strip" ->
      (segmentCte(2) +
        """, freq AS (SELECT segtext, count(DISTINCT doc_id) AS df FROM segs GROUP BY 1
          |), tot AS (SELECT count(*) AS n FROM documents
          |), kept AS (
          |  SELECT s.doc_id, s.seg, s.segtext FROM segs s JOIN freq USING (segtext), tot
          |  WHERE df <= n * 0.05)
          |SELECT doc_id, string_agg(segtext, ' ' ORDER BY seg) AS text
          |FROM kept GROUP BY doc_id""".stripMargin),

    // SQ recall contract (q133 pattern): pinned TRUE, so a bounds/dequant/
    // rerank regression fails the hash compare
    "q140_knn_sq" ->
      """SELECT vec_id AS query_id, true AS recall_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin,
    // exact replay of the seeded ±1 projection: same sign rows as literals,
    // same left-to-right double accumulation, same sqrt(8) scale
    "q141_random_projection" -> {
      val rows = (0 until 8).map { j =>
        val signs = graft.ext.VectorOps.signRow(7L, j, 64)
          .map(s => if (s > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
        s"list_dot_product(embedding::DOUBLE[], $signs) / sqrt(8) AS proj_$j"
      }
      s"SELECT vec_id,\n  ${rows.mkString(",\n  ")}\nFROM embeddings"
    },
    // MMR contract: k picks, relevance-first start, pool-closed selection
    "q142_mmr_rerank" ->
      """SELECT vec_id AS query_id, true AS k_ok, true AS first_is_top1,
        |  true AS subset_ok
        |FROM embeddings WHERE vec_id < 5""".stripMargin,
    // duplicated-span removal: range-join coverage replay (the oracle may
    // use the position range join the engine replaces with a bounded frame)
    "q144_dup_span_removal" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0
        |), w AS (
        |  SELECT doc_id, unnest(t) AS word, unnest(generate_series(1, len(t))) AS pos FROM toks
        |), g AS (
        |  SELECT doc_id, unnest(generate_series(1, len(t) - 7)) AS s,
        |    unnest(list_transform(generate_series(1, len(t) - 7),
        |      i -> array_to_string(list_slice(t, i, i + 7), ' '))) AS gram
        |  FROM toks WHERE len(t) >= 8
        |), dup AS (SELECT gram FROM g GROUP BY 1 HAVING count(*) > 1
        |), ds AS (SELECT g.doc_id, g.s FROM g JOIN dup USING (gram)
        |), cov AS (
        |  SELECT DISTINCT w.doc_id, w.pos FROM w
        |  JOIN ds ON w.doc_id = ds.doc_id AND w.pos BETWEEN ds.s AND ds.s + 7
        |), kept AS (
        |  SELECT w.doc_id, w.pos, w.word FROM w
        |  LEFT JOIN cov ON w.doc_id = cov.doc_id AND w.pos = cov.pos
        |  WHERE cov.pos IS NULL)
        |SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS text
        |FROM kept GROUP BY doc_id""".stripMargin,
    // HLL union contract: per-source + merged-global estimates in bounds
    "q145_hll_union" ->
      """SELECT source, true AS est_ok FROM (SELECT DISTINCT source FROM documents)
        |UNION ALL SELECT '__all__' AS source, true AS est_ok""".stripMargin,
    // native-exec as-of join: the identical ASOF oracle as q102
    "q146_asof_native" ->
      """SELECT e.event_id, e.user_id,
        |  CASE WHEN p.ts IS NULL OR epoch_ns(e.ts) - epoch_ns(p.ts) > 1800000000000
        |       THEN NULL ELSE p.value END AS asof_purchase_value
        |FROM events e ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin,
    // binaryFile ingest: closed-form raster statistics + textbook BMP size
    "q150_binaryfile_ingest" ->
      """WITH px AS (
        |  SELECT d.doc_id,
        |    ((doc_id*31 + xs.x*7 + ys.y*13 + 0) % 256
        |     + (doc_id*31 + xs.x*7 + ys.y*13 + 5) % 256
        |     + (doc_id*31 + xs.x*7 + ys.y*13 + 10) % 256) // 3 AS g
        |  FROM documents d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS x) xs
        |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS y) ys
        |  WHERE d.doc_id < 40)
        |SELECT doc_id, CAST(1206 AS BIGINT) AS n_bytes,
        |  CAST(384 AS BIGINT) AS n_pixels,
        |  CAST(SUM((g * 16) // 256) AS BIGINT) AS hist_moment
        |FROM px GROUP BY 1""".stripMargin,
    // hilbert layout: content is layout-independent
    "q149_hilbert_scan" ->
      """SELECT CAST(user_id % 3 AS BIGINT) AS user_mod, count(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DECIMAL(15,2)) AS DOUBLE) AS sum_value,
        |  CAST(SUM(event_id) AS BIGINT) AS sum_event_ids
        |FROM events WHERE user_id <= 12 AND value <= 45.0
        |GROUP BY 1""".stripMargin,
    // XML roundtrip: aggregate over the original table (roundtrip must be
    // lossless for the result to hash-match)
    "q148_xml_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS sum_price,
        |  max(o_orderdate) AS last_date
        |FROM orders GROUP BY 1""".stripMargin,
    // keep-best dedup: window replay over the same normalized-content
    // groups (tokens == split(lower(trim),'\s+'), joined by single spaces)
    "q147_dedup_keep_best" ->
      """WITH g AS (
        |  SELECT doc_id, lang, n_chars,
        |    array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ') AS norm
        |  FROM documents)
        |SELECT doc_id, lang, n_chars, n_dups FROM (
        |  SELECT doc_id, lang, n_chars,
        |    row_number() OVER (PARTITION BY norm ORDER BY n_chars DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY norm) AS n_dups
        |  FROM g) WHERE rn = 1""".stripMargin,
    // CMS contract over the same deterministic top-20 key set
    "q143_countmin_freq" ->
      """SELECT l_suppkey, true AS lower_ok, true AS upper_ok FROM (
        |  SELECT l_suppkey, count(*) AS c FROM lineitem GROUP BY 1
        |  ORDER BY c DESC, l_suppkey LIMIT 20)""".stripMargin,

    // image dHash near-dup pairs: DuckDB recomputes every dHash bit from
    // the closed-form group-pixel formula (decode is lossless PNG/BMP, so
    // raster == formula), builds the 64-bit hash as two 32-bit halves
    // (1<<63 would overflow BIGINT), then BRUTE-FORCES all pairs with
    // bit_count(xor) — the Spark side must reproduce the exact pair set
    // through its banded-LSH path (pigeonhole recall is a theorem, so
    // exact equality is the correct expectation, not an approximation)
    "q151_image_dhash_pairs" ->
      """WITH px AS (
        |  SELECT d.doc_id, d.doc_id // 8 AS gid, xs.x AS x, ys.y AS y
        |  FROM documents d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 35)) AS x) xs
        |  CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS y) ys
        |), gray AS (
        |  SELECT doc_id, x // 4 AS cx, y // 4 AS cy,
        |    ((gid*31 + x*7*(1 + gid % 5) + y*13*(1 + gid % 7)
        |        + CASE WHEN x < 4 AND y < 4 THEN (doc_id % 8) * 3 ELSE 0 END) % 256
        |     + (gid*31 + x*7*(1 + gid % 5) + y*13*(1 + gid % 7) + 5) % 256
        |     + (gid*31 + x*7*(1 + gid % 5) + y*13*(1 + gid % 7) + 10) % 256) // 3 AS g
        |  FROM px
        |), cells AS (
        |  SELECT doc_id, cx, cy, CAST(SUM(g) AS BIGINT) // 16 AS cg
        |  FROM gray GROUP BY 1, 2, 3
        |), bits AS (
        |  SELECT l.doc_id, l.cy * 8 + l.cx AS b,
        |    CASE WHEN r.cg > l.cg THEN 1 ELSE 0 END AS bit
        |  FROM cells l JOIN cells r
        |    ON r.doc_id = l.doc_id AND r.cy = l.cy AND r.cx = l.cx + 1
        |  WHERE l.cx < 8
        |), h AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN b < 32 THEN bit * (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS lo,
        |    CAST(SUM(CASE WHEN b >= 32 THEN bit * (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS hi
        |  FROM bits GROUP BY 1
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS BIGINT) AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3""".stripMargin,

    "q152_graph_pagerank" -> pageRankOracle,

    // winsorize: window replay (fine at oracle scale; the engine side
    // deliberately avoids the per-group window — see the query comment)
    "q153_winsorize" ->
      """WITH ranked AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS v,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |th AS (
        |  SELECT g,
        |    MAX(CASE WHEN rn = GREATEST(1, (n * 5 + 99) // 100) THEN v END) AS lo,
        |    MAX(CASE WHEN rn = GREATEST(1, (n * 95 + 99) // 100) THEN v END) AS hi
        |  FROM ranked GROUP BY g)
        |SELECT r.g AS l_returnflag, count(*) AS n,
        |  MIN(t.lo) AS p05, MIN(t.hi) AS p95,
        |  CAST(SUM(CASE WHEN r.v < t.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
        |  CAST(SUM(CASE WHEN r.v > t.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
        |  CAST(SUM(CAST(LEAST(GREATEST(r.v, t.lo), t.hi) AS DECIMAL(15,2))) AS DOUBLE) AS sum_w
        |FROM ranked r JOIN th t ON r.g = t.g
        |GROUP BY 1""".stripMargin,

    // scene cuts: per-pixel gray = base+1 exactly ((3*base+3)/3 with
    // channel offsets 0/1/2), frame sums + lag deltas replayed in SQL
    "q154_video_scene_cuts" ->
      """WITH fr AS (SELECT unnest(generate_series(0, 11)) AS f),
        |px AS (
        |  SELECT d.doc_id, fr.f,
        |    (d.doc_id % 7) * 4 + (fr.f // 4) * 9 + (fr.f % 4)
        |      + (xs.x % 8) + (ys.y % 8) + 1 AS g
        |  FROM documents d CROSS JOIN fr
        |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS x) xs
        |  CROSS JOIN (SELECT unnest(generate_series(0, 11)) AS y) ys
        |), s AS (
        |  SELECT doc_id, f AS frame_idx, CAST(SUM(g) AS BIGINT) AS gray_sum
        |  FROM px GROUP BY 1, 2
        |), dif AS (
        |  SELECT doc_id, frame_idx, gray_sum,
        |    CAST(COALESCE(gray_sum - lag(gray_sum)
        |      OVER (PARTITION BY doc_id ORDER BY frame_idx), 0) AS BIGINT) AS diff
        |  FROM s)
        |SELECT doc_id, frame_idx, gray_sum, diff,
        |  (frame_idx > 0 AND abs(diff) >= 576) AS is_cut
        |FROM dif""".stripMargin,

    // image dup clusters: q151's brute-forced pair graph through the q46
    // recursive min-label component replay
    "q155_image_dup_clusters" ->
      """WITH RECURSIVE px AS (
        |  SELECT d.doc_id, d.doc_id // 8 AS gid, xs.x AS x, ys.y AS y
        |  FROM documents d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 35)) AS x) xs
        |  CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS y) ys
        |), gray AS (
        |  SELECT doc_id, x // 4 AS cx, y // 4 AS cy,
        |    ((gid*31 + x*7*(1 + gid % 5) + y*13*(1 + gid % 7)
        |        + CASE WHEN x < 4 AND y < 4 THEN (doc_id % 8) * 3 ELSE 0 END) % 256
        |     + (gid*31 + x*7*(1 + gid % 5) + y*13*(1 + gid % 7) + 5) % 256
        |     + (gid*31 + x*7*(1 + gid % 5) + y*13*(1 + gid % 7) + 10) % 256) // 3 AS g
        |  FROM px
        |), cells AS (
        |  SELECT doc_id, cx, cy, CAST(SUM(g) AS BIGINT) // 16 AS cg
        |  FROM gray GROUP BY 1, 2, 3
        |), bits AS (
        |  SELECT l.doc_id, l.cy * 8 + l.cx AS b,
        |    CASE WHEN r.cg > l.cg THEN 1 ELSE 0 END AS bit
        |  FROM cells l JOIN cells r
        |    ON r.doc_id = l.doc_id AND r.cy = l.cy AND r.cx = l.cx + 1
        |  WHERE l.cx < 8
        |), h AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN b < 32 THEN bit * (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS lo,
        |    CAST(SUM(CASE WHEN b >= 32 THEN bit * (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS hi
        |  FROM bits GROUP BY 1
        |), pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM h a JOIN h b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs
        |), comp(id, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, c.label FROM comp c JOIN edges e ON c.id = e.src
        |)
        |SELECT id AS doc_id, min(label) AS cluster_id FROM comp GROUP BY id""".stripMargin,

    // audio silence: window energies replayed from the closed-form sample
    "q156_audio_silence" ->
      """WITH sm AS (
        |  SELECT d.doc_id, s.i, s.i // 160 AS w,
        |    CASE WHEN ((s.i // 160) + d.doc_id) % 3 = 0
        |         THEN ((d.doc_id + s.i) % 5) - 2
        |         ELSE ((d.doc_id * 7 + s.i * 3) % 4096) + 500 END AS v
        |  FROM documents d
        |  CROSS JOIN (SELECT unnest(generate_series(0, 1599)) AS i) s)
        |SELECT doc_id, CAST(w AS BIGINT) AS window_idx,
        |  count(*) AS n_window,
        |  CAST(SUM(v * v) AS BIGINT) AS energy,
        |  (CAST(SUM(v * v) AS BIGINT) <= 1600) AS is_silent
        |FROM sm GROUP BY doc_id, w""".stripMargin,

    // filtered vector search: exact over the filtered corpus (rerank
    // covers it), so the q50 brute recipe with the label predicate is the
    // oracle
    "q158_knn_filtered" ->
      """WITH q AS (SELECT * FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
        |    CASE WHEN list_dot_product(d.embedding::DOUBLE[], d.embedding::DOUBLE[]) = 0
        |           OR list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) = 0 THEN 0.0
        |         ELSE list_dot_product(d.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
        |              (sqrt(list_dot_product(d.embedding::DOUBLE[], d.embedding::DOUBLE[])) *
        |               sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))) END AS cosine
        |  FROM (SELECT * FROM embeddings WHERE label % 3 = 0) d CROSS JOIN q
        |)
        |SELECT query_id, neighbor_id, cosine, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM scored
        |) WHERE rank <= 10""".stripMargin,

    // hybrid RRF: the q43 gram recipe for lexical overlap, the q50 cosine
    // recipe for the vector side, per-query rank windows, fixed two-term
    // fused sum — every column bit-replayable
    "q159_hybrid_rrf" ->
      """WITH corpus AS (
        |  SELECT d.doc_id AS id, d.text, e.embedding
        |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
        |g AS (
        |  SELECT id, embedding,
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(generate_series(1, len(t)-2),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS s
        |  FROM (SELECT id, embedding, string_split_regex(lower(trim(text)), '\s+') AS t FROM corpus)),
        |q AS (SELECT * FROM g WHERE id < 5),
        |scored AS (
        |  SELECT q.id AS query_id, g.id AS neighbor_id,
        |    CAST(len(list_intersect(g.s, q.s)) AS BIGINT) AS lex,
        |    CASE WHEN list_dot_product(g.embedding::DOUBLE[], g.embedding::DOUBLE[]) = 0
        |           OR list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) = 0 THEN 0.0
        |         ELSE list_dot_product(g.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
        |              (sqrt(list_dot_product(g.embedding::DOUBLE[], g.embedding::DOUBLE[])) *
        |               sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))) END AS cosine
        |  FROM g CROSS JOIN q),
        |r AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY lex DESC, neighbor_id) AS BIGINT) AS r_lex,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS r_vec
        |  FROM scored),
        |f AS (
        |  SELECT query_id, neighbor_id, r_lex, r_vec,
        |    1.0 / (60 + r_lex) + 1.0 / (60 + r_vec) AS rrf
        |  FROM r)
        |SELECT query_id, neighbor_id, r_lex, r_vec, rrf, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM f
        |) WHERE rank <= 10""".stripMargin,

    // image ingest gate: ONE dhash pipeline over both sides (corpus ids as
    // themselves, batch content ids via the even/odd mapping), NOT EXISTS
    // on hamming <= 3 — brute-forced, like q151
    "q160_image_ingest_gate" ->
      """WITH allids AS (
        |  SELECT 'c' AS side, doc_id AS oid, doc_id AS hid FROM documents
        |  UNION ALL
        |  SELECT 'b', 1000000 + doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN doc_id // 2 ELSE 1000000 + doc_id END
        |  FROM documents WHERE doc_id < 100
        |), px AS (
        |  SELECT a.side, a.oid, a.hid, a.hid // 8 AS gid, xs.x AS x, ys.y AS y
        |  FROM allids a
        |  CROSS JOIN (SELECT unnest(generate_series(0, 35)) AS x) xs
        |  CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS y) ys
        |), gray AS (
        |  SELECT side, oid, x // 4 AS cx, y // 4 AS cy,
        |    ((gid*31 + x*7*(1 + gid % 5) + y*13*(1 + gid % 7)
        |        + CASE WHEN x < 4 AND y < 4 THEN (hid % 8) * 3 ELSE 0 END) % 256
        |     + (gid*31 + x*7*(1 + gid % 5) + y*13*(1 + gid % 7) + 5) % 256
        |     + (gid*31 + x*7*(1 + gid % 5) + y*13*(1 + gid % 7) + 10) % 256) // 3 AS g
        |  FROM px
        |), cells AS (
        |  SELECT side, oid, cx, cy, CAST(SUM(g) AS BIGINT) // 16 AS cg
        |  FROM gray GROUP BY 1, 2, 3, 4
        |), bits AS (
        |  SELECT l.side, l.oid, l.cy * 8 + l.cx AS b,
        |    CASE WHEN r.cg > l.cg THEN 1 ELSE 0 END AS bit
        |  FROM cells l JOIN cells r
        |    ON r.side = l.side AND r.oid = l.oid AND r.cy = l.cy AND r.cx = l.cx + 1
        |  WHERE l.cx < 8
        |), h AS (
        |  SELECT side, oid,
        |    CAST(SUM(CASE WHEN b < 32 THEN bit * (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS lo,
        |    CAST(SUM(CASE WHEN b >= 32 THEN bit * (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS hi
        |  FROM bits GROUP BY 1, 2
        |)
        |SELECT b.oid AS batch_id, b.hi AS h_hi, b.lo AS h_lo
        |FROM h b
        |WHERE b.side = 'b' AND NOT EXISTS (
        |  SELECT 1 FROM h c WHERE c.side = 'c'
        |    AND bit_count(xor(b.lo, c.lo)) + bit_count(xor(b.hi, c.hi)) <= 3)""".stripMargin,

    // streaming drift: hourly mix vs global mix, integer TVD numerator +
    // one final double division (identical expression tree both engines)
    "q157_stream_drift" ->
      """WITH h AS (
        |  SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS bucket_s,
        |    event_type, count(*) AS n_ht
        |  FROM events GROUP BY 1, 2),
        |hour_tot AS (SELECT bucket_s, CAST(SUM(n_ht) AS BIGINT) AS n_h FROM h GROUP BY 1),
        |type_tot AS (SELECT event_type, CAST(SUM(n_ht) AS BIGINT) AS n_t FROM h GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_ht) AS BIGINT) AS n FROM h),
        |grid AS (
        |  SELECT ht.bucket_s, tt.event_type, COALESCE(h.n_ht, 0) AS n_ht, ht.n_h, tt.n_t
        |  FROM hour_tot ht CROSS JOIN type_tot tt
        |  LEFT JOIN h ON h.bucket_s = ht.bucket_s AND h.event_type = tt.event_type)
        |SELECT g.bucket_s, MIN(g.n_h) AS n_h,
        |  CAST(SUM(ABS(g.n_ht * t.n - g.n_t * g.n_h)) AS BIGINT) AS tvd_num,
        |  CAST(CAST(SUM(ABS(g.n_ht * t.n - g.n_t * g.n_h)) AS BIGINT) AS DOUBLE)
        |    / (2.0 * MIN(t.n) * MIN(g.n_h)) AS tvd
        |FROM grid g CROSS JOIN tot t GROUP BY 1""".stripMargin,

    // closed-form drift expectation (the q127 pattern): the fixture's two
    // generations are fully specified, so the report — column-add drift
    // (lang in 3 of 5 files) and type drift (doc_id INT32 twice + INT64
    // three times) — is a static truth the footer walk must reproduce
    "q132_schema_drift" ->
      """SELECT * FROM (VALUES
        |  ('doc_id', 'INT32', CAST(2 AS BIGINT)),
        |  ('doc_id', 'INT64', CAST(3 AS BIGINT)),
        |  ('text', 'BINARY', CAST(5 AS BIGINT)),
        |  ('lang', 'BINARY', CAST(3 AS BIGINT))
        |) AS t(col_name, physical_type, n_files)""".stripMargin,

    // snapshot diff: full-outer fingerprint join, same version-2 recipe
    "q131_corpus_diff" ->
      """WITH oldv AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |newv AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS fp
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, md5('added doc') FROM documents WHERE doc_id < 15
        |)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.fp IS NULL THEN 'added'
        |       WHEN n.fp IS NULL THEN 'removed'
        |       WHEN o.fp = n.fp THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id""".stripMargin,
    "q115_text_normalize" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_text
        |  FROM documents
        |)
        |SELECT doc_id, norm_text,
        |  CAST(length(norm_text) AS BIGINT) AS norm_text_chars,
        |  CAST(CASE WHEN length(norm_text) = 0 THEN 0
        |       ELSE len(string_split_regex(norm_text, '\s+')) END AS BIGINT) AS norm_text_tokens
        |FROM n""".stripMargin,
    // streaming ingest filter == batch anti join on normalized content
    // (all new-content docs pass, incl. within-batch dup groups — the
    // min-id collapse is q118's batch-side job)
    "q89_stream_ingest_filter" ->
      """WITH norm AS (
        |  SELECT doc_id, array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ') AS nt
        |  FROM documents
        |), corpus AS (SELECT DISTINCT nt FROM norm WHERE doc_id % 10 <> 0)
        |SELECT b.doc_id FROM (SELECT doc_id, nt FROM norm WHERE doc_id % 10 = 0) b
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.nt = b.nt)""".stripMargin,
    // streaming top-k == the same md5-window selection the q15 oracle uses
    "q134_stream_topk" ->
      """SELECT lang, source, doc_id FROM documents
        |QUALIFY row_number() OVER (PARTITION BY lang, source
        |    ORDER BY md5('42:' || CAST(doc_id AS VARCHAR))) <= 3""".stripMargin,

    "q123_curriculum_order" ->
      """SELECT doc_id, difficulty,
        |  CAST(ntile(10) OVER (ORDER BY difficulty, doc_id) AS BIGINT) AS difficulty_bin,
        |  CAST(row_number() OVER (ORDER BY difficulty, doc_id) AS BIGINT) AS curriculum_rank
        |FROM (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS BIGINT) AS difficulty
        |  FROM documents
        |)""".stripMargin,
    "q124_equidepth_histogram" ->
      """SELECT bucket, CAST(count(*) AS BIGINT) AS n,
        |  min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS sum_price
        |FROM (
        |  SELECT l_extendedprice,
        |    CAST(ntile(10) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS BIGINT) AS bucket
        |  FROM lineitem
        |) GROUP BY 1""".stripMargin,
    // z-score in integer-cents domain: exact sums, identical double formula
    "q125_zscore_normalize" ->
      """WITH c AS (
        |  SELECT event_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events
        |), stats AS (
        |  SELECT event_type,
        |    CAST(SUM(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_c,
        |    sqrt((CAST(SUM(cents * cents) AS DOUBLE) -
        |          CAST(SUM(cents) AS DOUBLE) * CAST(SUM(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE))
        |         / CAST(count(*) AS DOUBLE)) AS std_c
        |  FROM c GROUP BY 1
        |)
        |SELECT event_id, c.event_type, (CAST(cents AS DOUBLE) - mean_c) / std_c AS zscore
        |FROM c JOIN stats USING (event_type)""".stripMargin,
    // confusion matrix composed from the q62 lang-id oracle
    "q122_langid_confusion" ->
      s"""WITH pred AS ($langIdOracle)
        |SELECT d.lang AS lang_true, p.lang_pred, CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents d JOIN pred p USING (doc_id)
        |GROUP BY 1, 2""".stripMargin,
    // vocab coverage: integer cumulative counts, one division at the end
    "q120_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
        |  WHERE length(trim(text)) > 0
        |), w AS (SELECT unnest(t) AS token FROM toks
        |), cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY 1
        |), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM cnt
        |), top AS (SELECT token, cnt FROM cnt ORDER BY cnt DESC, token LIMIT 1000)
        |SELECT token, cnt, rank,
        |  CAST(cum_cnt AS DOUBLE) / CAST(tot AS DOUBLE) AS cum_coverage
        |FROM (
        |  SELECT token, cnt,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank,
        |    CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt
        |  FROM top
        |) CROSS JOIN tot""".stripMargin,
    // incremental ingest: fp-equality == normalized-string equality
    // (modulo 2^-64 collisions), so the oracle dedups on the string
    "q118_incremental_ingest" ->
      """WITH norm AS (
        |  SELECT doc_id, array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ') AS nt
        |  FROM documents
        |), corpus AS (SELECT DISTINCT nt FROM norm WHERE doc_id % 10 <> 0
        |), batch AS (SELECT doc_id, nt FROM norm WHERE doc_id % 10 = 0
        |), fresh AS (
        |  SELECT b.doc_id, b.nt FROM batch b
        |  WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.nt = b.nt)
        |)
        |SELECT doc_id, batch_dups FROM (
        |  SELECT doc_id,
        |    CAST(count(*) OVER (PARTITION BY nt) AS BIGINT) AS batch_dups,
        |    row_number() OVER (PARTITION BY nt ORDER BY doc_id) AS rn
        |  FROM fresh
        |) WHERE rn = 1""".stripMargin,
    // source-overlap matrix over the same shingle definition as q43
    "q116_source_overlap" ->
      """WITH toks AS (
        |  SELECT source, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
        |  WHERE length(trim(text)) > 0
        |), sh AS (
        |  SELECT source,
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS s
        |  FROM toks
        |), g AS (SELECT DISTINCT source, unnest(s) AS gram FROM sh
        |), sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1
        |), inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS i
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source GROUP BY 1, 2
        |)
        |SELECT s1.source AS src_a, s2.source AS src_b, s1.n AS grams_a, s2.n AS grams_b,
        |  CAST(COALESCE(inter.i, 0) AS BIGINT) AS n_shared,
        |  CAST(COALESCE(inter.i, 0) AS DOUBLE) / CAST(s1.n + s2.n - COALESCE(inter.i, 0) AS DOUBLE) AS jaccard
        |FROM sz s1 JOIN sz s2 ON s1.source < s2.source
        |LEFT JOIN inter ON inter.src_a = s1.source AND inter.src_b = s2.source""".stripMargin,

    // binary-quantized ANN: the WHOLE pipeline replays — 32-bit sign
    // words as sums of distinct powers of two, hamming shortlist cut,
    // q50's bit-exact cosine rerank
    "q161_knn_binary" ->
      """WITH sig AS (
        |  SELECT vec_id, embedding,
        |    CAST(list_sum(list_transform(generate_series(0, 31),
        |      j -> CASE WHEN embedding[j+1] > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w0,
        |    CAST(list_sum(list_transform(generate_series(0, 31),
        |      j -> CASE WHEN embedding[j+33] > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS w1
        |  FROM embeddings),
        |q AS (SELECT * FROM sig WHERE vec_id < 5),
        |ham AS (
        |  SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
        |    CAST(bit_count(xor(d.w0, q.w0)) + bit_count(xor(d.w1, q.w1)) AS BIGINT) AS hamming,
        |    d.embedding AS de, q.embedding AS qe
        |  FROM sig d CROSS JOIN q),
        |short AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS sr
        |    FROM ham) WHERE sr <= 50),
        |scored AS (
        |  SELECT query_id, neighbor_id, hamming,
        |    CASE WHEN list_dot_product(de::DOUBLE[], de::DOUBLE[]) = 0
        |           OR list_dot_product(qe::DOUBLE[], qe::DOUBLE[]) = 0 THEN 0.0
        |         ELSE list_dot_product(de::DOUBLE[], qe::DOUBLE[]) /
        |              (sqrt(list_dot_product(de::DOUBLE[], de::DOUBLE[])) *
        |               sqrt(list_dot_product(qe::DOUBLE[], qe::DOUBLE[]))) END AS cosine
        |  FROM short)
        |SELECT query_id, neighbor_id, hamming, cosine, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        |  FROM scored
        |) WHERE rank <= 10""".stripMargin,

    // triangle counting: the q152 edge fixture, same degree orientation
    // and compact-forward joins as the engine
    "q162_graph_triangles" ->
      """WITH nodes AS (SELECT doc_id AS node FROM documents),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |ej AS (SELECT node AS src,
        |         unnest(generate_series(1, 1 + node % 4)) AS j FROM nodes),
        |edges AS (SELECT src, (src * (src + 3) + j * 97) % n AS dst FROM ej, nn),
        |e0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |       FROM edges WHERE src <> dst),
        |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
        |          SELECT a AS v FROM e0 UNION ALL SELECT b AS v FROM e0) GROUP BY v),
        |o AS (
        |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e0.a < e0.b)
        |              THEN e0.a ELSE e0.b END AS u,
        |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e0.a < e0.b)
        |              THEN e0.b ELSE e0.a END AS v,
        |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e0.a < e0.b)
        |              THEN db.deg ELSE da.deg END AS dv
        |  FROM e0 JOIN deg da ON da.v = e0.a JOIN deg db ON db.v = e0.b),
        |tri AS (
        |  SELECT w1.u AS u, w1.v AS x, w2.v AS y
        |  FROM o w1 JOIN o w2 ON w1.u = w2.u
        |   AND (w1.dv < w2.dv OR (w1.dv = w2.dv AND w1.v < w2.v))
        |  JOIN o c ON c.u = w1.v AND c.v = w2.v)
        |SELECT node AS doc_id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        |  SELECT u AS node FROM tri
        |  UNION ALL SELECT x FROM tri
        |  UNION ALL SELECT y FROM tri
        |) GROUP BY 1""".stripMargin,

    // MAD outliers: lower-median order statistics (k = max(1, ceil(n/2)))
    // replayed by per-group windows at oracle scale; integer cents and a
    // cross-multiplied threshold keep every flag exact
    "q163_mad_outliers" ->
      """WITH c AS (SELECT l_returnflag AS g, CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
        |m AS (SELECT g, v AS med FROM (
        |    SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
        |           count(*) OVER (PARTITION BY g) AS n
        |    FROM c) WHERE rn = greatest(1, (n * 50 + 99) // 100)),
        |d AS (SELECT c.g, c.v, m.med, abs(c.v - m.med) AS ad FROM c JOIN m ON c.g = m.g),
        |md AS (SELECT g, ad AS mad FROM (
        |    SELECT g, ad, row_number() OVER (PARTITION BY g ORDER BY ad) AS rn,
        |           count(*) OVER (PARTITION BY g) AS n
        |    FROM d) WHERE rn = greatest(1, (n * 50 + 99) // 100)),
        |f AS (SELECT d.g, d.v, d.med, md.mad, (d.ad * 2 > md.mad * 3) AS is_out
        |      FROM d JOIN md ON d.g = md.g)
        |SELECT g AS l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  MIN(med) AS med_cents, MIN(mad) AS mad_cents,
        |  CAST(SUM(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(SUM(CASE WHEN is_out THEN v ELSE 0 END) AS BIGINT) AS sum_outlier_cents
        |FROM f GROUP BY 1""".stripMargin,

    // stream left-outer interval join: sentinel-flushed, so the emitted
    // set is the batch LEFT JOIN exactly (micros — the q84 convention)
    "q164_stream_interval_outer" ->
      """WITH e AS (SELECT event_id, epoch_ns(ts) // 1000 AS t, user_id, event_type FROM events),
        |c AS (SELECT event_id AS click_id, user_id, t AS ct FROM e WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id AS p_user, t AS pt FROM e WHERE event_type = 'purchase')
        |SELECT c.click_id, c.user_id,
        |  COALESCE(p.purchase_id, -1) AS purchase_id,
        |  (p.purchase_id IS NOT NULL) AS matched
        |FROM c LEFT JOIN p ON p.p_user = c.user_id
        |  AND p.pt >= c.ct AND p.pt <= c.ct + 3600000000""".stripMargin,

    // URL normalization: the fixture and the whole regex chain replayed
    // step for step ('g' flags — Spark replaces all matches)
    "q165_url_normalize" -> (urlNormOracleCtes +
      """
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(count(DISTINCT url) AS BIGINT) AS n_distinct_raw,
        |  CAST(count(DISTINCT norm_url) AS BIGINT) AS n_distinct_norm,
        |  MIN(norm_url) AS first_url
        |FROM dom GROUP BY 1""".stripMargin),

    // URL-keyed dedup: the q165 chain feeding min-id canonical-page
    // selection — the C4 URL-dedup pass end to end
    "q217_url_dedup" -> (urlNormOracleCtes +
      """,
        |kept AS (
        |  SELECT norm_url, MIN(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_dups
        |  FROM dom GROUP BY 1),
        |kd AS (
        |  SELECT keep_id, n_dups,
        |    regexp_extract(norm_url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS domain
        |  FROM kept)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_pages,
        |  CAST(SUM(n_dups) AS BIGINT) AS n_raw,
        |  CAST(MIN(keep_id) AS BIGINT) AS first_keep_id
        |FROM kd GROUP BY 1""".stripMargin),

    // hard-example mining: per-(anchor, side) top-1 by (cosine desc, id),
    // q50 cosine recipe — margins are one IEEE subtraction
    "q166_hard_negatives" ->
      """WITH a AS (SELECT * FROM embeddings WHERE vec_id < 50),
        |s AS (
        |  SELECT a.vec_id AS anchor_id, d.vec_id AS neighbor_id,
        |    (d.label = a.label) AS is_pos,
        |    CASE WHEN list_dot_product(d.embedding::DOUBLE[], d.embedding::DOUBLE[]) = 0
        |           OR list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]) = 0 THEN 0.0
        |         ELSE list_dot_product(d.embedding::DOUBLE[], a.embedding::DOUBLE[]) /
        |              (sqrt(list_dot_product(d.embedding::DOUBLE[], d.embedding::DOUBLE[])) *
        |               sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))) END AS cosine
        |  FROM embeddings d CROSS JOIN a WHERE d.vec_id <> a.vec_id),
        |t1 AS (SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY anchor_id, is_pos ORDER BY cosine DESC, neighbor_id) AS rn
        |    FROM s) WHERE rn = 1)
        |SELECT anchor_id,
        |  MAX(CASE WHEN is_pos THEN neighbor_id END) AS pos_id,
        |  MAX(CASE WHEN is_pos THEN cosine END) AS pos_cos,
        |  MAX(CASE WHEN NOT is_pos THEN neighbor_id END) AS neg_id,
        |  MAX(CASE WHEN NOT is_pos THEN cosine END) AS neg_cos,
        |  MAX(CASE WHEN is_pos THEN cosine END) - MAX(CASE WHEN NOT is_pos THEN cosine END) AS margin
        |FROM t1 GROUP BY 1""".stripMargin,

    // shard packing: the q55 token/md5-order recipe + a window cumsum at
    // oracle scale (the engine side uses the distributed two-pass scan)
    "q167_pack_shards" ->
      """WITH tok AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS rk,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS ws_tokens
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, ws_tokens,
        |    CAST(SUM(ws_tokens) OVER (ORDER BY rk, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
        |  FROM tok),
        |tot AS (SELECT greatest(1, CAST(SUM(ws_tokens) AS BIGINT)) AS total FROM tok)
        |SELECT doc_id, ws_tokens,
        |  least(CAST(7 AS BIGINT), ((c - ws_tokens) * 8) // total) AS shard
        |FROM cum, tot""".stripMargin,

    "q168_label_propagation" -> labelPropOracle,
    "q169_kcore" -> kCoreOracle,
    "q191_bfs_distances" -> bfsOracle,

    // weighted median: per-(group, value) weight sums + running cumulative
    // weight replayed by windows (oracle scale); the pick is the smallest
    // value whose doubled cumulative weight reaches the group total
    "q192_weighted_median" ->
      """WITH wv AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS v,
        |    SUM(CAST(l_quantity AS BIGINT)) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |cw AS (
        |  SELECT g, v, w,
        |    SUM(w) OVER (PARTITION BY g ORDER BY v) AS cumw,
        |    SUM(w) OVER (PARTITION BY g) AS tot
        |  FROM wv)
        |SELECT g AS l_returnflag,
        |  MIN(v) FILTER (WHERE 2 * cumw >= tot) AS weighted_median,
        |  CAST(MIN(tot) AS BIGINT) AS total_w
        |FROM cw GROUP BY g""".stripMargin,

    // association rules: distinct (order, brand) baskets, triangular
    // pair join, both rule directions; confidence/lift as the SAME single
    // divisions of exact counts the engine computes
    "q193_assoc_rules" ->
      """WITH items AS (
        |  SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
        |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
        |nb AS (SELECT count(DISTINCT b) AS n FROM items),
        |sup AS (SELECT i, count(*) AS c FROM items GROUP BY 1),
        |pr AS (
        |  SELECT x.i AS a, y.i AS b2, count(*) AS np
        |  FROM items x JOIN items y ON x.b = y.b AND x.i < y.i
        |  GROUP BY 1, 2 HAVING count(*) >= 20),
        |dir AS (
        |  SELECT a AS ante, b2 AS cons, np FROM pr
        |  UNION ALL
        |  SELECT b2 AS ante, a AS cons, np FROM pr)
        |SELECT d.ante, d.cons, CAST(d.np AS BIGINT) AS n_pair,
        |  CAST(sa.c AS BIGINT) AS n_ante, CAST(sc.c AS BIGINT) AS n_cons,
        |  CAST(nb.n AS BIGINT) AS n_baskets,
        |  CAST(d.np AS DOUBLE) / CAST(sa.c AS DOUBLE) AS confidence,
        |  CAST(d.np * nb.n AS DOUBLE) / CAST(sa.c * sc.c AS DOUBLE) AS lift,
        |  CAST(d.np AS DOUBLE) / sqrt(CAST(sa.c * sc.c AS DOUBLE)) AS cosine
        |FROM dir d
        |JOIN sup sa ON sa.i = d.ante
        |JOIN sup sc ON sc.i = d.cons
        |CROSS JOIN nb""".stripMargin,

    // event-type trigrams: two LEADs over the per-user timeline (ties on
    // event_id), exact counts, share = ONE division by the grand total
    "q194_event_trigrams" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ns(ts) AS tns, event_id
        |  FROM events),
        |r AS (
        |  SELECT event_type AS step_0,
        |    LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY tns, event_id) AS step_1,
        |    LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY tns, event_id) AS step_2
        |  FROM e),
        |m AS (
        |  SELECT step_0, step_1, step_2, CAST(count(*) AS BIGINT) AS n_occurrences
        |  FROM r WHERE step_1 IS NOT NULL AND step_2 IS NOT NULL
        |  GROUP BY 1, 2, 3),
        |tot AS (SELECT CAST(SUM(n_occurrences) AS BIGINT) AS t FROM m)
        |SELECT step_0, step_1, step_2, n_occurrences,
        |  CAST(n_occurrences AS DOUBLE) / CAST(t AS DOUBLE) AS share
        |FROM m CROSS JOIN tot""".stripMargin,

    // sentence stats: same boundary-injection fixture ('g' flags), same
    // split/filter/word-count chain, same single division
    "q195_sentence_stats" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(text, ' the ', '. ', 'g'),
        |                   ' data ', '! ', 'g') AS stext
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(stext, '[.!?]+'),
        |                x -> len(trim(x)) > 0) AS sent
        |  FROM f),
        |w AS (
        |  SELECT doc_id, sent,
        |    list_transform(sent,
        |      x -> CAST(len(string_split_regex(trim(x), '\s+')) AS BIGINT)) AS wc
        |  FROM s)
        |SELECT doc_id,
        |  CAST(len(sent) AS BIGINT) AS n_sentences,
        |  CAST(COALESCE(list_sum(wc), 0) AS BIGINT) AS n_sent_words,
        |  CAST(COALESCE(list_max(wc), 0) AS BIGINT) AS max_sent_words,
        |  CASE WHEN len(sent) = 0 THEN 0.0
        |       ELSE CAST(list_sum(wc) AS DOUBLE) / CAST(len(sent) AS DOUBLE)
        |  END AS mean_sent_words
        |FROM w""".stripMargin,

    // systematic sample: the identical md5 order replayed; survivor =
    // every 20th rank (no ties: md5 of distinct keys)
    "q196_systematic_sample" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    row_number() OVER (
        |      ORDER BY md5('graft196:' || CAST(o_orderkey AS VARCHAR))) AS rn
        |  FROM orders) WHERE (rn - 1) % 20 = 0""".stripMargin,

    // file-skip scan: the pruned read provably equals the plain filtered
    // scan — identity IS the proof (the q130/q182 pattern)
    "q197_file_skip_scan" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_totalprice >= 50000.0 AND o_totalprice <= 100000.0
        |GROUP BY 1""".stripMargin,

    // chi-square cells: HUGEINT exact squared numerator (the engine's
    // DECIMAL(38,0)) canonicalized through VARCHAR, one division
    "q198_chi2_cells" ->
      """WITH cells AS (
        |  SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS observed
        |  FROM orders GROUP BY 1, 2),
        |m AS (
        |  SELECT o_orderpriority, o_orderstatus, observed,
        |    CAST(SUM(observed) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS row_total,
        |    CAST(SUM(observed) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS col_total,
        |    CAST(SUM(observed) OVER () AS BIGINT) AS n_total
        |  FROM cells)
        |SELECT o_orderpriority, o_orderstatus, observed, row_total, col_total, n_total,
        |  CAST(CAST((CAST(observed AS HUGEINT) * n_total - CAST(row_total AS HUGEINT) * col_total)
        |            * (CAST(observed AS HUGEINT) * n_total - CAST(row_total AS HUGEINT) * col_total) AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(CAST(n_total AS HUGEINT) * row_total * col_total AS VARCHAR) AS DOUBLE) AS contribution
        |FROM m""".stripMargin,

    // Welch t: identical integer-cents sufficient statistics and the
    // identical fixed expression tree — bit-exact
    "q199_welch_ttest" ->
      """WITH e AS (
        |  SELECT event_type, CAST(user_id % 2 AS VARCHAR) AS cohort,
        |    CAST(ROUND(value * 100) AS BIGINT) AS c
        |  FROM events),
        |a AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN cohort = '0' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN cohort = '0' THEN c ELSE 0 END) AS BIGINT) AS s_a,
        |    SUM(CASE WHEN cohort = '0' THEN CAST(c AS HUGEINT) * c ELSE 0 END) AS ss_a,
        |    CAST(SUM(CASE WHEN cohort = '1' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(CASE WHEN cohort = '1' THEN c ELSE 0 END) AS BIGINT) AS s_b,
        |    SUM(CASE WHEN cohort = '1' THEN CAST(c AS HUGEINT) * c ELSE 0 END) AS ss_b
        |  FROM e GROUP BY 1),
        |x AS (
        |  SELECT event_type, n_a, n_b,
        |    (CAST(CAST(ss_a AS VARCHAR) AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        |      / (CAST(n_a AS DOUBLE) - 1.0) AS va,
        |    (CAST(CAST(ss_b AS VARCHAR) AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |      / (CAST(n_b AS DOUBLE) - 1.0) AS vb,
        |    CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
        |    CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb
        |  FROM a)
        |SELECT event_type, n_a, n_b,
        |  CASE WHEN n_a >= 2 AND n_b >= 2
        |         AND sqrt(va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE)) > 0.0
        |       THEN (ma - mb) / sqrt(va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE))
        |  END AS t_stat
        |FROM x""".stripMargin,

    // TWAP: the identical LEAD segments; HUGEINT exact cents-nanos sums
    // (the engine's DECIMAL(38,0)) canonicalized through VARCHAR
    "q200_twap" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS tns, event_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS c
        |  FROM events),
        |seg AS (
        |  SELECT user_id, c,
        |    LEAD(tns) OVER (PARTITION BY user_id ORDER BY tns, event_id) - tns AS dur
        |  FROM e),
        |a AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_segments,
        |    CAST(SUM(dur) AS BIGINT) AS total_ns,
        |    SUM(CAST(c AS HUGEINT) * CAST(dur AS HUGEINT)) AS num
        |  FROM seg WHERE dur IS NOT NULL GROUP BY 1)
        |SELECT user_id, n_segments, total_ns,
        |  CAST(CAST(num AS VARCHAR) AS DOUBLE) / CAST(total_ns AS DOUBLE) / 100.0 AS twap
        |FROM a WHERE total_ns > 0""".stripMargin,

    // top paths: the identical ordered first-5 path strings
    "q201_top_paths" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ns(ts) AS tns, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id,
        |    string_agg(event_type, '>' ORDER BY tns, event_id) AS path
        |  FROM e WHERE rn <= 5 GROUP BY 1)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_users FROM p GROUP BY 1""".stripMargin,

    // rolling distinct: the range-join formulation (oracle scale)
    "q202_rolling_actives" ->
      """WITH act AS (
        |  SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS day, user_id
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM act)
        |SELECT d.day, CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
        |FROM days d JOIN act a ON a.day BETWEEN d.day - 6 AND d.day
        |GROUP BY 1""".stripMargin,

    // KS: per-(group, value) side counts, windowed cumulative replay,
    // cross-multiplied integer gaps, one division
    "q203_ks_test" ->
      """WITH v AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS val,
        |    SUM(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN l_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS cb
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT g, val, ca, cb,
        |    CAST(SUM(ca) OVER (PARTITION BY g ORDER BY val) AS BIGINT) AS cuma,
        |    CAST(SUM(cb) OVER (PARTITION BY g ORDER BY val) AS BIGINT) AS cumb,
        |    CAST(SUM(ca) OVER (PARTITION BY g) AS BIGINT) AS na,
        |    CAST(SUM(cb) OVER (PARTITION BY g) AS BIGINT) AS nb
        |  FROM v)
        |SELECT g AS l_returnflag,
        |  CAST(MIN(na) AS BIGINT) AS n_a, CAST(MIN(nb) AS BIGINT) AS n_b,
        |  CAST(MAX(ABS(cuma * nb - cumb * na)) AS BIGINT) AS d_num,
        |  CASE WHEN MIN(na) > 0 AND MIN(nb) > 0 THEN
        |    CAST(MAX(ABS(cuma * nb - cumb * na)) AS DOUBLE)
        |      / CAST(MIN(na) * MIN(nb) AS DOUBLE)
        |  END AS d
        |FROM c GROUP BY g""".stripMargin,

    // Mann-Whitney / AUC: per-(group, value) side counts, windowed
    // cumulative replay, doubled-midrank rank sums, one division
    "q205_mann_whitney" ->
      """WITH v AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS val,
        |    SUM(CASE WHEN l_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS ca,
        |    SUM(CASE WHEN l_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS cb
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT g, val, ca, cb,
        |    CAST(SUM(ca + cb) OVER (PARTITION BY g ORDER BY val) AS BIGINT) AS cumab,
        |    CAST(SUM(ca) OVER (PARTITION BY g) AS BIGINT) AS na,
        |    CAST(SUM(cb) OVER (PARTITION BY g) AS BIGINT) AS nb
        |  FROM v),
        |r AS (
        |  SELECT g, MIN(na) AS na, MIN(nb) AS nb,
        |    SUM(CAST(ca AS HUGEINT) * ((cumab - ca - cb) * 2 + ca + cb + 1)) AS r2a
        |  FROM c GROUP BY g)
        |SELECT g AS l_returnflag, CAST(na AS BIGINT) AS n_a,
        |  CAST(nb AS BIGINT) AS n_b,
        |  CAST(CAST(r2a AS VARCHAR) AS DOUBLE) AS r2_a,
        |  CASE WHEN na > 0 AND nb > 0 THEN
        |    CAST(CAST(r2a - CAST(na AS HUGEINT) * (na + 1) AS VARCHAR) AS DOUBLE)
        |      / CAST(CAST(CAST(na AS HUGEINT) * nb * 2 AS VARCHAR) AS DOUBLE)
        |  END AS auc
        |FROM r""".stripMargin,

    // CUSUM: hourly counts, scaled integer cumulative sums, earliest
    // peak bucket — all windows over the type x hour matrix
    "q206_cusum_changepoint" ->
      """WITH h AS (
        |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS bucket,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, bucket, x,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS b,
        |    CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS t
        |  FROM h),
        |s AS (
        |  SELECT event_type, bucket, b, t,
        |    CAST(SUM(b * x - t) OVER (PARTITION BY event_type ORDER BY bucket) AS BIGINT) AS cs
        |  FROM c),
        |p AS (SELECT event_type, CAST(MAX(ABS(cs)) AS BIGINT) AS peak FROM s GROUP BY 1)
        |SELECT s.event_type, CAST(MIN(s.b) AS BIGINT) AS n_buckets,
        |  CAST(MIN(s.t) AS BIGINT) AS total,
        |  CAST(MIN(p.peak) AS BIGINT) AS cusum_peak,
        |  CAST(MIN(s.bucket) AS BIGINT) AS peak_bucket
        |FROM s JOIN p ON p.event_type = s.event_type AND ABS(s.cs) = p.peak
        |GROUP BY 1""".stripMargin,

    "q207_benford_digits" -> benfordOracle,

    // streaming rolling actives: exact counts replayed by the q202
    // range-join oracle; the HLL contract rides as a pinned boolean
    "q212_stream_actives" ->
      """WITH act AS (
        |  SELECT DISTINCT epoch_ns(ts) // 86400000000000 AS day, user_id
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM act)
        |SELECT d.day, CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users,
        |  TRUE AS hll_ok
        |FROM days d JOIN act a ON a.day BETWEEN d.day - 6 AND d.day
        |GROUP BY 1""".stripMargin,

    // entity clusters: the same md5 name fixture, brute within-block JW
    // pairs (DuckDB's built-in is bit-identical to the engine expression
    // — proven by q188) + the q46 recursive-CTE min-label components
    "q213_entity_clusters" ->
      """WITH RECURSIVE k AS (
        |  SELECT doc_id AS id,
        |    CASE CAST(doc_id % 4 AS INT)
        |      WHEN 0 THEN substr(md5(CAST(doc_id // 4 AS VARCHAR)), 1, 10)
        |      WHEN 1 THEN substr(md5(CAST(doc_id // 4 AS VARCHAR)), 1, 10) || 'x'
        |      WHEN 2 THEN substr(md5(CAST(doc_id // 4 AS VARCHAR)), 1, 9) || 'zz'
        |      ELSE substr(md5(CAST(doc_id // 4 AS VARCHAR)), 1, 8)
        |        || substr(md5(CAST(doc_id // 4 AS VARCHAR)), 10, 1)
        |        || substr(md5(CAST(doc_id // 4 AS VARCHAR)), 9, 1)
        |    END AS nm
        |  FROM documents),
        |kb AS (SELECT id, nm, substr(nm, 1, 2) AS blk FROM k),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM kb a JOIN kb b ON a.blk = b.blk AND a.id < b.id
        |  WHERE jaro_winkler_similarity(a.nm, b.nm) >= 0.9),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |comp(id, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, c.label FROM comp c JOIN edges e ON c.id = e.src)
        |SELECT id AS doc_id, min(label) AS cluster_id FROM comp GROUP BY id""".stripMargin,

    // percent rank: the SQL built-in per distinct (group, value) — same
    // (rank-1)/(n-1) single division
    "q214_percent_rank" ->
      """SELECT DISTINCT l_returnflag, l_quantity,
        |  CAST(count(*) OVER (PARTITION BY l_returnflag, l_quantity) AS BIGINT) AS n_with_value,
        |  percent_rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS pct_rank
        |FROM lineitem""".stripMargin,

    "q219_covariance_matrix" -> covMatrixOracle,

    // readability: same fixture, same counts, string-cast literals (the
    // Benford lesson: bare decimals parse as DECIMAL and can be 1 ulp off)
    "q226_readability" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(text, ' the ', '. ', 'g'),
        |                   ' data ', '! ', 'g') AS stext
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(stext, '[.!?]+'),
        |        x -> len(trim(x)) > 0)) AS s,
        |    CASE WHEN len(trim(stext)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(stext), '\s+')) END AS w,
        |    len(regexp_extract_all(lower(stext), '[aeiouy]+')) AS y
        |  FROM f)
        |SELECT doc_id, CAST(s AS BIGINT) AS n_sentences,
        |  CAST(w AS BIGINT) AS n_words, CAST(y AS BIGINT) AS n_syllables,
        |  CASE WHEN s > 0 AND w > 0 THEN
        |    CAST('206.835' AS DOUBLE)
        |      - CAST('1.015' AS DOUBLE) * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
        |      - CAST('84.6' AS DOUBLE) * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE))
        |  END AS flesch
        |FROM m""".stripMargin,

    // dim stats: per-index explode, the same power-of-two scaled sums
    "q228_embedding_dim_stats" ->
      """WITH d AS (
        |  SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS s(i))
        |SELECT CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(ROUND(v * 1048576) AS BIGINT)) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) / 1048576.0 AS mean_v,
        |  MIN(v) AS min_v, MAX(v) AS max_v
        |FROM d GROUP BY 1""".stripMargin,

    // norm histogram: list_dot_product on double-cast lists (the q50
    // bit-exact precedent), power-of-two bucket scaling
    "q229_embedding_norms" ->
      """WITH n AS (
        |  SELECT sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings)
        |SELECT CAST(floor(norm * 4) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_vecs,
        |  MIN(norm) AS min_norm, MAX(norm) AS max_norm
        |FROM n GROUP BY 1""".stripMargin,

    // key skew: same counts, same single divisions
    "q230_key_skew" ->
      """WITH k AS (
        |  SELECT CASE WHEN l_orderkey % 3 = 0 THEN 1 ELSE l_suppkey END AS s_suppkey
        |  FROM lineitem),
        |c AS (SELECT s_suppkey, CAST(count(*) AS BIGINT) AS cnt FROM k GROUP BY 1),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(SUM(cnt) AS BIGINT) AS n_rows, CAST(MAX(cnt) AS BIGINT) AS max_cnt FROM c),
        |top AS (SELECT * FROM c ORDER BY cnt DESC, s_suppkey LIMIT 10)
        |SELECT t.s_suppkey, t.cnt,
        |  CAST(t.cnt AS DOUBLE) / CAST(st.n_rows AS DOUBLE) AS share,
        |  st.n_keys, st.n_rows, st.max_cnt,
        |  CAST(st.max_cnt * st.n_keys AS DOUBLE) / CAST(st.n_rows AS DOUBLE) AS skew_ratio
        |FROM top t CROSS JOIN st""".stripMargin,

    // quantile normalization: in-group ECDF percentiles + global order
    // statistics replayed by windows (oracle scale)
    "q231_quantile_normalize" ->
      """WITH wv AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS v,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |cw AS (
        |  SELECT g, v, c,
        |    CAST(SUM(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM wv),
        |m AS (SELECT g, v, c, (100 * cum + n - 1) // n AS pct FROM cw),
        |r AS (
        |  SELECT v, row_number() OVER (ORDER BY v) AS rn, count(*) OVER () AS nn
        |  FROM (SELECT l_extendedprice AS v FROM lineitem)),
        |tg AS (
        |  SELECT p.p AS pct, MIN(r.v) AS norm_v
        |  FROM (SELECT unnest(generate_series(1, 100)) AS p) p
        |  JOIN r ON r.rn = greatest(1, (p.p * r.nn + 99) // 100)
        |  GROUP BY 1)
        |SELECT m.g AS l_returnflag, CAST(m.pct AS BIGINT) AS pct,
        |  CAST(count(*) AS BIGINT) AS n_values,
        |  CAST(SUM(m.c) AS BIGINT) AS n_rows,
        |  MIN(tg.norm_v) AS norm_v,
        |  MIN(m.v) AS min_src, MAX(m.v) AS max_src
        |FROM m JOIN tg ON tg.pct = m.pct
        |GROUP BY 1, 2""".stripMargin,

    // seasonal naive: the same per-type LAG over the hourly matrix
    "q232_seasonal_naive" ->
      """WITH h AS (
        |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS bucket,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, x,
        |    LAG(x, 24) OVER (PARTITION BY event_type ORDER BY bucket) AS prev
        |  FROM h),
        |a AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets,
        |    CAST(SUM(CASE WHEN prev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
        |    CAST(SUM(CASE WHEN prev IS NOT NULL THEN ABS(x - prev) ELSE 0 END) AS BIGINT) AS mae_num
        |  FROM l GROUP BY 1)
        |SELECT event_type, n_buckets, n_scored, mae_num,
        |  CASE WHEN n_scored > 0 THEN
        |    CAST(mae_num AS DOUBLE) / CAST(n_scored AS DOUBLE) END AS mae
        |FROM a""".stripMargin,

    // Wilson CI: the identical fixed tree over the identical string-cast
    // z literal
    "q233_wilson_ci" ->
      """WITH a AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_trials,
        |    CAST(SUM(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_success
        |  FROM events GROUP BY 1),
        |x AS (
        |  SELECT event_type, n_trials, n_success,
        |    CAST(n_trials AS DOUBLE) AS n,
        |    CAST(n_success AS DOUBLE) / CAST(n_trials AS DOUBLE) AS p,
        |    CAST('1.959963984540054' AS DOUBLE) AS z
        |  FROM a)
        |SELECT event_type, n_trials, n_success, p AS rate,
        |  (p + z * z / (2.0 * n) - z * sqrt(p * (1.0 - p) / n + z * z / (4.0 * n * n)))
        |    / (1.0 + z * z / n) AS wilson_lo,
        |  (p + z * z / (2.0 * n) + z * sqrt(p * (1.0 - p) / n + z * z / (4.0 * n * n)))
        |    / (1.0 + z * z / n) AS wilson_hi
        |FROM x""".stripMargin,

    // cluster cap: the q46 recursive components + a per-cluster 2-row cut
    "q235_cluster_cap" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
        |  WHERE length(trim(text)) > 0
        |), sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS s
        |  FROM toks
        |), pairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  ) WHERE jaccard >= 0.7
        |), edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs
        |), comp(id, label) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.dst, c.label FROM comp c JOIN edges e ON c.id = e.src
        |), cl AS (SELECT id, min(label) AS cluster_id FROM comp GROUP BY id)
        |SELECT id AS doc_id, cluster_id FROM (
        |  SELECT id, cluster_id,
        |    row_number() OVER (PARTITION BY cluster_id ORDER BY id) AS rn
        |  FROM cl) WHERE rn <= 2""".stripMargin,

    // join preflight: the count-table sums ARE the join cardinality
    "q236_join_size" ->
      """WITH ca AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1),
        |cb AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY 1),
        |j AS (
        |  SELECT CAST(COALESCE(SUM(ca.c * cb.c), 0) AS BIGINT) AS n_join,
        |    CAST(COALESCE(MAX(ca.c * cb.c), 0) AS BIGINT) AS max_key_fanout
        |  FROM ca JOIN cb ON ca.k = cb.k)
        |SELECT CAST((SELECT SUM(c) FROM ca) AS BIGINT) AS n_left,
        |  CAST((SELECT SUM(c) FROM cb) AS BIGINT) AS n_right,
        |  CAST((SELECT count(*) FROM ca) AS BIGINT) AS n_left_keys,
        |  CAST((SELECT count(*) FROM cb) AS BIGINT) AS n_right_keys,
        |  j.n_join, j.max_key_fanout
        |FROM j""".stripMargin,

    // k-anonymity / l-diversity profile: pure counting per quasi tuple
    "q237_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS class_n,
        |  CAST(count(DISTINCT c_acctbal) AS BIGINT) AS l_distinct,
        |  count(*) < 8 AS k_violation,
        |  count(DISTINCT c_acctbal) < 4 AS l_violation
        |FROM customer GROUP BY 1, 2""".stripMargin,

    // suppression: anti-join against sub-k classes, per-segment ledger
    "q238_k_suppression" ->
      """WITH viol AS (
        |  SELECT c_nationkey, c_mktsegment FROM customer
        |  GROUP BY 1, 2 HAVING count(*) < 8),
        |kept AS (
        |  SELECT c.c_mktsegment, count(*) AS n_kept FROM customer c
        |  LEFT JOIN viol v ON c.c_nationkey = v.c_nationkey
        |    AND c.c_mktsegment = v.c_mktsegment
        |  WHERE v.c_nationkey IS NULL GROUP BY 1)
        |SELECT t.c_mktsegment, CAST(t.n_total AS BIGINT) AS n_total,
        |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
        |  CAST(t.n_total - COALESCE(k.n_kept, 0) AS BIGINT) AS n_suppressed
        |FROM (SELECT c_mktsegment, count(*) AS n_total FROM customer GROUP BY 1) t
        |LEFT JOIN kept k USING (c_mktsegment)""".stripMargin,

    // Cohen's kappa vs the q62 heuristic: integer confusion counts, one
    // final division of exact HUGEINTs canonicalized through VARCHAR
    "q239_cohens_kappa" ->
      s"""WITH p AS (
        |  SELECT lang AS a,
        |    CASE WHEN GREATEST(s_de, s_en, s_es, s_fr, s_zh) <= 0.0 THEN 'und'
        |         WHEN s_zh >= s_fr AND s_zh >= s_es AND s_zh >= s_en AND s_zh >= s_de THEN 'zh'
        |         WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
        |         WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
        |         WHEN s_en >= s_de THEN 'en' ELSE 'de' END AS b
        |  FROM (SELECT lang,
        |  $langScores
        |  FROM documents)),
        |cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM p GROUP BY 1, 2),
        |rt AS (SELECT a AS cat, SUM(c) AS ra FROM cells GROUP BY 1),
        |ct AS (SELECT b AS cat, SUM(c) AS cb FROM cells GROUP BY 1),
        |ch AS (SELECT COALESCE(SUM(CAST(ra AS HUGEINT) * CAST(cb AS HUGEINT)),
        |               CAST(0 AS HUGEINT)) AS sumrc
        |       FROM rt JOIN ct USING (cat)),
        |tt AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN a = b THEN c ELSE 0 END) AS BIGINT) AS agree FROM cells)
        |SELECT n, agree,
        |  CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
        |  CAST(CAST(sumrc AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT) AS VARCHAR) AS DOUBLE) AS pe,
        |  CASE WHEN CAST(n AS HUGEINT) * CAST(n AS HUGEINT) - sumrc <> 0
        |       THEN CAST(CAST(CAST(n AS HUGEINT) * CAST(agree AS HUGEINT) - sumrc AS VARCHAR) AS DOUBLE)
        |          / CAST(CAST(CAST(n AS HUGEINT) * CAST(n AS HUGEINT) - sumrc AS VARCHAR) AS DOUBLE)
        |  END AS kappa
        |FROM tt, ch""".stripMargin,

    // hourly-count ACF: integer sufficient stats per calendar lag, one
    // fixed IEEE tree; variance terms to double BEFORE their product
    "q240_acf_hourly" ->
      """WITH h AS (
        |  SELECT epoch_ns(ts) // 3600000000000 AS hb, CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |l AS (SELECT CAST(range AS BIGINT) AS lag FROM range(1, 7)),
        |st AS (
        |  SELECT l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |    SUM(CAST(cur.x AS HUGEINT)) AS sx,
        |    SUM(CAST(prev.x AS HUGEINT)) AS sy,
        |    SUM(CAST(cur.x AS HUGEINT) * CAST(cur.x AS HUGEINT)) AS sxx,
        |    SUM(CAST(prev.x AS HUGEINT) * CAST(prev.x AS HUGEINT)) AS syy,
        |    SUM(CAST(cur.x AS HUGEINT) * CAST(prev.x AS HUGEINT)) AS sxy
        |  FROM l CROSS JOIN h cur JOIN h prev ON cur.hb = prev.hb + l.lag
        |  GROUP BY 1)
        |SELECT lag, n_pairs,
        |  CASE WHEN CAST(n_pairs AS HUGEINT) * sxx - sx * sx > 0
        |        AND CAST(n_pairs AS HUGEINT) * syy - sy * sy > 0
        |       THEN CAST(CAST(CAST(n_pairs AS HUGEINT) * sxy - sx * sy AS VARCHAR) AS DOUBLE)
        |          / sqrt(CAST(CAST(CAST(n_pairs AS HUGEINT) * sxx - sx * sx AS VARCHAR) AS DOUBLE)
        |               * CAST(CAST(CAST(n_pairs AS HUGEINT) * syy - sy * sy AS VARCHAR) AS DOUBLE))
        |  END AS acf
        |FROM st""".stripMargin,

    // OOV rate: train vocabulary vs held-source token occurrences. The
    // length(trim) guard mirrors the engine's empty-text -> no-tokens
    // contract (explode of an empty array drops the row)
    "q242_oov_rate" ->
      """WITH tr AS (
        |  SELECT DISTINCT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents WHERE source <> 'src19' AND length(trim(text)) > 0),
        |inc AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents WHERE source = 'src19' AND length(trim(text)) > 0),
        |cc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM inc GROUP BY 1),
        |fl AS (SELECT cc.c, tr.tok IS NOT NULL AS iv
        |       FROM cc LEFT JOIN tr ON cc.tok = tr.tok),
        |vt AS (SELECT CAST(count(*) AS BIGINT) AS vocab_train FROM tr)
        |SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN NOT iv THEN c ELSE 0 END) AS BIGINT) AS n_oov_tokens,
        |  CAST(count(*) AS BIGINT) AS vocab_incoming,
        |  CAST(SUM(CASE WHEN NOT iv THEN 1 ELSE 0 END) AS BIGINT) AS oov_types,
        |  vocab_train,
        |  CASE WHEN SUM(c) > 0
        |       THEN CAST(SUM(CASE WHEN NOT iv THEN c ELSE 0 END) AS DOUBLE)
        |          / CAST(SUM(c) AS DOUBLE) END AS oov_rate
        |FROM fl, vt GROUP BY vocab_train""".stripMargin,

    // stratified split: md5-ranked in-stratum cut at floor(cum * n); the
    // '0.8'/'0.9' string literals are the engine's BigDecimal cumulative
    // thresholds bit-for-bit
    "q243_stratified_split" ->
      """SELECT doc_id, source,
        |  CASE WHEN rn <= FLOOR(CAST('0.8' AS DOUBLE) * CAST(n AS DOUBLE)) THEN 'train'
        |       WHEN rn <= FLOOR(CAST('0.9' AS DOUBLE) * CAST(n AS DOUBLE)) THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn,
        |  count(*) OVER (PARTITION BY source) AS n
        |FROM documents)""".stripMargin,

    // FK inclusion: distinct-key relations, one inner join, fixed divisions
    "q244_fk_inclusion" ->
      """WITH da AS (SELECT DISTINCT l_partkey AS k FROM lineitem WHERE l_partkey IS NOT NULL),
        |db AS (SELECT DISTINCT p_partkey AS k FROM part WHERE p_partkey IS NOT NULL),
        |na AS (SELECT CAST(count(*) AS BIGINT) AS n_keys_a FROM da),
        |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_keys_b FROM db),
        |sh AS (SELECT CAST(count(*) AS BIGINT) AS n_shared FROM da JOIN db USING (k))
        |SELECT n_keys_a, n_keys_b, n_shared,
        |  CASE WHEN n_keys_a > 0
        |       THEN CAST(n_shared AS DOUBLE) / CAST(n_keys_a AS DOUBLE) END AS inclusion_a_in_b,
        |  CASE WHEN n_keys_b > 0
        |       THEN CAST(n_shared AS DOUBLE) / CAST(n_keys_b AS DOUBLE) END AS inclusion_b_in_a,
        |  CASE WHEN n_keys_a + n_keys_b - n_shared > 0
        |       THEN CAST(n_shared AS DOUBLE)
        |          / CAST(n_keys_a + n_keys_b - n_shared AS DOUBLE) END AS key_jaccard
        |FROM na, nb, sh""".stripMargin,

    // FD check: one distinct-count per lhs group, then a single-row verdict
    "q245_fd_check" ->
      """WITH g AS (SELECT c_nationkey,
        |  CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS nr
        |FROM customer GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_lhs_groups,
        |  CAST(SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
        |  MAX(nr) AS max_rhs_per_lhs,
        |  SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0 AS fd_holds
        |FROM g""".stripMargin,

    // streaming privacy gate == the batch suppression's kept relation
    "q246_stream_privacy_gate" ->
      """WITH viol AS (
        |  SELECT c_nationkey, c_mktsegment FROM customer
        |  GROUP BY 1, 2 HAVING count(*) < 6)
        |SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment FROM customer c
        |LEFT JOIN viol v ON c.c_nationkey = v.c_nationkey
        |  AND c.c_mktsegment = v.c_mktsegment
        |WHERE v.c_nationkey IS NULL""".stripMargin,

    // seasonal profile: densified grid, even-period centered-MA detrend
    // replayed via window frames; HUGEINT numerators, one division
    "q247_seasonal_profile" ->
      """WITH h AS (
        |  SELECT epoch_ns(ts) // 3600000000000 AS hb, CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1),
        |b AS (SELECT min(hb) AS lo, max(hb) AS hi FROM h),
        |g AS (SELECT gs.t AS hb, COALESCE(h.x, 0) AS x
        |      FROM (SELECT unnest(generate_series(lo, hi)) AS t FROM b) gs
        |      LEFT JOIN h ON h.hb = gs.t),
        |w AS (SELECT hb, x,
        |   SUM(x) OVER (ORDER BY hb ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS s,
        |   COUNT(*) OVER (ORDER BY hb ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS cnt,
        |   LAG(x, 12) OVER (ORDER BY hb) AS xm,
        |   LEAD(x, 12) OVER (ORDER BY hb) AS xp
        | FROM g),
        |d AS (SELECT hb % 24 AS season_idx,
        |   CAST(48 AS HUGEINT) * x - (CAST(2 AS HUGEINT) * s - xm - xp) AS dnum
        | FROM w WHERE cnt = 25)
        |SELECT CAST(season_idx AS BIGINT) AS season_idx,
        |  CAST(count(*) AS BIGINT) AS n_obs,
        |  CAST(CAST(SUM(dnum) AS VARCHAR) AS DOUBLE)
        |    / CAST(CAST(CAST(48 AS HUGEINT) * count(*) AS VARCHAR) AS DOUBLE) AS seasonal
        |FROM d GROUP BY 1""".stripMargin,

    // OHLC bars: first/last by (ts, event_id) replayed via row_number
    // windows; every output column is a pass-through double — bit-exact
    "q248_ohlc_bars" ->
      """WITH e AS (
        |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS bucket,
        |    value, epoch_ns(ts) AS tns, event_id
        |  FROM events),
        |w AS (
        |  SELECT event_type, bucket, value,
        |    row_number() OVER (PARTITION BY event_type, bucket
        |      ORDER BY tns, event_id) AS rf,
        |    row_number() OVER (PARTITION BY event_type, bucket
        |      ORDER BY tns DESC, event_id DESC) AS rl
        |  FROM e)
        |SELECT event_type AS series_key, bucket,
        |  MAX(CASE WHEN rf = 1 THEN value END) AS open,
        |  MAX(value) AS high,
        |  MIN(value) AS low,
        |  MAX(CASE WHEN rl = 1 THEN value END) AS close,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM w GROUP BY 1, 2""".stripMargin,

    // peak concurrency: DuckDB replays the sweep as ONE global running sum
    // (fine at sf scale); the engine's decomposed hour/day-carry plan must
    // match it bit for bit. Starts sort before ends at equal t (d DESC).
    "q249_peak_concurrency" ->
      """WITH e AS (
        |  SELECT user_id AS u, epoch_ns(ts) AS t FROM events),
        |s AS (
        |  SELECT u, t,
        |    CASE WHEN t - lag(t) OVER (PARTITION BY u ORDER BY t)
        |      <= 1800000000000 THEN 0 ELSE 1 END AS nw
        |  FROM e),
        |sid AS (
        |  SELECT u, t, SUM(nw) OVER (PARTITION BY u ORDER BY t
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s),
        |sess AS (SELECT u, sid, min(t) AS st, max(t) AS en
        |  FROM sid GROUP BY 1, 2),
        |b AS (SELECT st AS t, 1 AS d FROM sess
        |  UNION ALL SELECT en, -1 FROM sess),
        |r AS (SELECT t, SUM(d) OVER (ORDER BY t, d DESC
        |  ROWS UNBOUNDED PRECEDING) AS run FROM b)
        |SELECT t // 86400000000000 AS day,
        |  CAST(max(run) AS BIGINT) AS peak_concurrency
        |FROM r GROUP BY 1""".stripMargin,

    // phrase search: adjacency over the whitespace tokenizer == substring
    // of the space-joined token stream with space sentinels
    "q252_phrase_search" -> phraseSearchOracle,
    // merge-equals-rebuild: the merged half-corpus indexes answer exactly
    // the scan answer
    "q253_index_merge_search" -> phraseSearchOracle,

    // CUPED: HUGEINT sufficient statistics -> varchar-cast doubles -> the
    // same fixed IEEE tree as the engine (theta once, adjusted means by
    // linearity)
    "q254_cuped" ->
      """WITH u AS (
        |  SELECT user_id,
        |    SUM(CASE WHEN epoch_ns(ts) // 86400000000000 < 19738
        |      THEN 1 ELSE 0 END) AS xv,
        |    SUM(CASE WHEN epoch_ns(ts) // 86400000000000 >= 19738
        |      THEN CAST(floor(value) AS BIGINT) ELSE 0 END) AS yv
        |  FROM events GROUP BY 1),
        |g AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS gn,
        |    CAST(CAST(SUM(CAST(xv AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS gsx,
        |    CAST(CAST(SUM(CAST(yv AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS gsy,
        |    CAST(CAST(SUM(CAST(xv AS HUGEINT) * CAST(yv AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS gsxy,
        |    CAST(CAST(SUM(CAST(xv AS HUGEINT) * CAST(xv AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS gsxx
        |  FROM u),
        |t AS (SELECT gn, gsx,
        |    CASE WHEN gn * gsxx - gsx * gsx <> 0
        |      THEN (gn * gsxy - gsx * gsy) / (gn * gsxx - gsx * gsx) END AS theta
        |  FROM g),
        |v AS (
        |  SELECT user_id % 2 AS variant, CAST(count(*) AS BIGINT) AS n_units,
        |    CAST(CAST(SUM(CAST(xv AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS vsx,
        |    CAST(CAST(SUM(CAST(yv AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS vsy
        |  FROM u GROUP BY 1)
        |SELECT variant, n_units,
        |  vsy / CAST(n_units AS DOUBLE) AS mean_post,
        |  vsy / CAST(n_units AS DOUBLE)
        |    - COALESCE(theta, 0) * (vsx / CAST(n_units AS DOUBLE) - gsx / gn)
        |    AS mean_adj,
        |  theta
        |FROM v, t""".stripMargin,

    // KM table: per-user spans, inactivity churn flag, risk set via the
    // same theta self-join; hazard = one integer division
    "q255_km_survival" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    min(epoch_ns(ts) // 86400000000000) AS d0,
        |    max(epoch_ns(ts) // 86400000000000) AS d1
        |  FROM events GROUP BY 1),
        |ob AS (SELECT max(d1) AS obs_end FROM pu),
        |du AS (SELECT d1 - d0 AS t,
        |    CASE WHEN d1 < obs_end - 7 THEN 1 ELSE 0 END AS ev
        |  FROM pu, ob),
        |g AS (SELECT t, CAST(SUM(ev) AS BIGINT) AS n_events,
        |    CAST(SUM(1 - ev) AS BIGINT) AS n_censored
        |  FROM du GROUP BY 1),
        |r AS (SELECT a.t, a.n_events, a.n_censored,
        |    CAST(SUM(b.n_events + b.n_censored) AS BIGINT) AS n_risk
        |  FROM g a JOIN g b ON b.t >= a.t
        |  GROUP BY 1, 2, 3)
        |SELECT t AS duration_days, n_risk, n_events, n_censored,
        |  CAST(n_events AS DOUBLE) / CAST(n_risk AS DOUBLE) AS hazard
        |FROM r""".stripMargin,

    // Markov removal-effect attribution: generated 40-round integer
    // fixed-point replay over the (removal x state) grid
    "q256_markov_attribution" -> markovOracle,

    // incremental agg maintenance: the oracle IS the from-scratch
    // aggregation — merge-equals-rebuild for additive state
    "q257_incremental_agg" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders GROUP BY 1""".stripMargin,

    // cohort LTV: min-day cohorts, integer revenue, per-cohort running sum
    "q258_cohort_ltv" ->
      """WITH e AS (
        |  SELECT user_id AS u, epoch_ns(ts) // 86400000000000 AS day,
        |    CAST(floor(value) AS BIGINT) AS rev
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT u, min(day) AS cohort_day FROM e GROUP BY 1),
        |cell AS (
        |  SELECT c.cohort_day, e.day - c.cohort_day AS age_days,
        |    CAST(count(DISTINCT e.u) AS BIGINT) AS n_active,
        |    CAST(SUM(e.rev) AS BIGINT) AS revenue
        |  FROM e JOIN c ON e.u = c.u GROUP BY 1, 2)
        |SELECT cohort_day, age_days, n_active, revenue,
        |  CAST(SUM(revenue) OVER (PARTITION BY cohort_day ORDER BY age_days
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_revenue
        |FROM cell""".stripMargin,

    // mojibake scan: identical RE2 patterns; the corpus is clean so every
    // count is 0 — the oracle still pins schema, row set, and zeros
    "q259_mojibake_scan" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '�')) AS BIGINT) AS n_replacement,
        |  CAST(len(regexp_extract_all(text,
        |    'Ã©|Ã¨|Ã¤|Ã¶|Ã¼|Ã«|Ã±|Ã§|Ã¡|Ã³|Ãº|â€™|â€œ|â€¦|â€“|â€”|Â°|Â·|Â ')) AS BIGINT)
        |    AS n_mojibake_seq,
        |  CAST(len(regexp_extract_all(text, '[\x00-\x08\x0b\x0c\x0e-\x1f]')) AS BIGINT)
        |    AS n_c0_control,
        |  CAST(len(regexp_extract_all(text, '�')) AS BIGINT)
        |    + CAST(len(regexp_extract_all(text,
        |      'Ã©|Ã¨|Ã¤|Ã¶|Ã¼|Ã«|Ã±|Ã§|Ã¡|Ã³|Ãº|â€™|â€œ|â€¦|â€“|â€”|Â°|Â·|Â ')) AS BIGINT)
        |    + CAST(len(regexp_extract_all(text, '[\x00-\x08\x0b\x0c\x0e-\x1f]')) AS BIGINT)
        |    AS mojibake_total
        |FROM documents""".stripMargin,

    // ingest capstone: same batch construction, normalized-string exact
    // match, brute pairwise 3-gram jaccard for the near tier, identical
    // hygiene regexes; same CASE precedence
    "q261_ingest_pipeline" ->
      """WITH batch AS (
        |  SELECT doc_id + 2000000 AS bid, text FROM documents WHERE doc_id % 10 = 1
        |  UNION ALL
        |  SELECT doc_id + 2000000, text || ' appended tail marker tokens'
        |  FROM documents WHERE doc_id % 10 = 2
        |  UNION ALL
        |  SELECT doc_id + 2000000, md5(CAST(doc_id AS VARCHAR))
        |  FROM documents WHERE doc_id % 10 = 3),
        |cn AS (SELECT DISTINCT
        |    array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ') AS nt
        |  FROM documents),
        |bn AS (SELECT bid, text,
        |    array_to_string(string_split_regex(lower(trim(text)), '\s+'), ' ') AS nt
        |  FROM batch),
        |ctoks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |csh AS (SELECT doc_id,
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(generate_series(1, len(t)-2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS s
        |  FROM ctoks),
        |btoks AS (SELECT bid, string_split_regex(lower(trim(text)), '\s+') AS t
        |  FROM batch WHERE length(trim(text)) > 0),
        |bsh AS (SELECT bid,
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(generate_series(1, len(t)-2),
        |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS s
        |  FROM btoks),
        |near AS (
        |  SELECT DISTINCT b.bid FROM bsh b JOIN csh a
        |  ON CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |     / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.5)
        |SELECT bid AS doc_id,
        |  CASE WHEN len(regexp_extract_all(bn.text, '�'))
        |        + len(regexp_extract_all(bn.text,
        |          'Ã©|Ã¨|Ã¤|Ã¶|Ã¼|Ã«|Ã±|Ã§|Ã¡|Ã³|Ãº|â€™|â€œ|â€¦|â€“|â€”|Â°|Â·|Â '))
        |        + len(regexp_extract_all(bn.text, '[\x00-\x08\x0b\x0c\x0e-\x1f]')) > 0
        |    THEN 'rejected_corrupt'
        |    WHEN EXISTS (SELECT 1 FROM cn WHERE cn.nt = bn.nt) THEN 'dup_exact'
        |    WHEN EXISTS (SELECT 1 FROM near WHERE near.bid = bn.bid) THEN 'dup_near'
        |    ELSE 'admitted' END AS status
        |FROM bn""".stripMargin,

    // theta segment overlap: exact pairwise distinct-user intersections;
    // below capacity the KMV estimate IS exact, so est_overlap replays as
    // the exact count and the capacity contract pins TRUE
    "q266_segment_overlap" ->
      """WITH seg AS (SELECT DISTINCT event_type, user_id FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  CAST(count(DISTINCT a.user_id) AS BIGINT) AS exact_overlap,
        |  CAST(count(DISTINCT a.user_id) AS DOUBLE) AS est_overlap,
        |  TRUE AS below_capacity
        |FROM seg a JOIN seg b
        |  ON a.user_id = b.user_id AND a.event_type < b.event_type
        |GROUP BY 1, 2""".stripMargin,

    // ranking eval: cosine truth (q50's oracle shape) vs dot-product
    // candidate, joined per query; rationals of small integers
    "q265_ranking_eval" ->
      """WITH q AS (SELECT * FROM embeddings WHERE vec_id < 5),
        |truth AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        CASE WHEN list_dot_product(d.embedding::DOUBLE[], d.embedding::DOUBLE[]) = 0
        |               OR list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]) = 0 THEN 0.0
        |             ELSE list_dot_product(d.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
        |                  (sqrt(list_dot_product(d.embedding::DOUBLE[], d.embedding::DOUBLE[])) *
        |                   sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))) END
        |        DESC, d.vec_id) AS rank
        |    FROM embeddings d CROSS JOIN q)
        |  WHERE rank <= 10),
        |cand AS (
        |  SELECT query_id, neighbor_id, rank FROM (
        |    SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_dot_product(d.embedding::DOUBLE[], q.embedding::DOUBLE[])
        |        DESC, d.vec_id) AS rank
        |    FROM embeddings d CROSS JOIN q)
        |  WHERE rank <= 10),
        |ts AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth
        |  FROM truth GROUP BY 1),
        |h AS (
        |  SELECT c.query_id, CAST(count(*) AS BIGINT) AS n_candidates,
        |    CAST(SUM(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |    CAST(MIN(CASE WHEN t.neighbor_id IS NOT NULL THEN c.rank END) AS BIGINT) AS fh
        |  FROM cand c LEFT JOIN truth t
        |    ON c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id
        |  GROUP BY 1)
        |SELECT ts.query_id, ts.n_truth,
        |  COALESCE(h.n_candidates, 0) AS n_candidates,
        |  COALESCE(h.n_hits, 0) AS n_hits,
        |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(ts.n_truth AS DOUBLE)
        |    AS recall_at_k,
        |  COALESCE(CAST('1' AS DOUBLE) / CAST(h.fh AS DOUBLE),
        |    CAST('0' AS DOUBLE)) AS mrr
        |FROM ts LEFT JOIN h ON ts.query_id = h.query_id""".stripMargin,

    // grid hotspots: same floor-div cells (non-negative coords), neighbor
    // sum via |cell-cell| <= 1 self-join of the tiny cell relation
    "q263_geo_hotspots" ->
      """WITH c AS (SELECT
        |    (c_custkey % 1048576)*2654435761 % 4294967296 % 1000000 AS lat,
        |    (c_custkey % 1048576)*1540483477 % 4294967296 % 1000000 AS lon
        |  FROM customer),
        |g AS (SELECT lat // 50000 AS cell_lat, lon // 50000 AS cell_lon,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM c GROUP BY 1, 2),
        |nb AS (SELECT a.cell_lat, a.cell_lon,
        |    CAST(SUM(b.n) AS BIGINT) AS n_neighborhood
        |  FROM g a JOIN g b ON abs(a.cell_lat - b.cell_lat) <= 1
        |    AND abs(a.cell_lon - b.cell_lon) <= 1
        |  GROUP BY 1, 2)
        |SELECT g.cell_lat, g.cell_lon, g.n, nb.n_neighborhood
        |FROM g JOIN nb USING (cell_lat, cell_lon)""".stripMargin,

    // spatial clusters: distance edges + the q46 min-label recursion
    "q264_geo_clusters" ->
      """WITH RECURSIVE pts AS (SELECT c_custkey,
        |    (c_custkey % 1048576)*2654435761 % 4294967296 % 1000000 AS lat,
        |    (c_custkey % 1048576)*1540483477 % 4294967296 % 1000000 AS lon
        |  FROM customer),
        |pairs AS (
        |  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
        |  FROM pts a JOIN pts b ON a.c_custkey < b.c_custkey
        |    AND (a.lat-b.lat)*(a.lat-b.lat) + (a.lon-b.lon)*(a.lon-b.lon)
        |        <= 25000000),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |comp(id, label) AS (
        |  SELECT c_custkey, c_custkey FROM customer
        |  UNION
        |  SELECT e.dst, c.label FROM comp c JOIN edges e ON c.id = e.src
        |)
        |SELECT id AS c_custkey, min(label) AS cluster_id
        |FROM comp GROUP BY id""".stripMargin,

    // geo radius join: DuckDB brute-forces the cross join with the same
    // integer distance predicate (fine at sf scale); the engine's grid
    // blocking must produce the identical pair set
    "q250_geo_radius_join" -> geoPairsSql,

    // nearest-within: rank the pair set per customer on (dist2, suppkey)
    "q251_geo_nearest" ->
      s"""WITH pairs AS ($geoPairsSql),
         |r AS (SELECT c_custkey, s_suppkey, dist2,
         |  row_number() OVER (PARTITION BY c_custkey
         |    ORDER BY dist2, s_suppkey) AS rn FROM pairs)
         |SELECT c_custkey, s_suppkey, dist2 FROM r WHERE rn = 1""".stripMargin,

    // mode: row_number over (count desc, value asc) = 1 per group
    "q227_group_mode" ->
      """SELECT l_returnflag, mode_value, n_mode FROM (
        |  SELECT l_returnflag, l_quantity AS mode_value,
        |    CAST(count(*) AS BIGINT) AS n_mode,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY count(*) DESC, l_quantity) AS rn
        |  FROM lineitem GROUP BY 1, 2)
        |WHERE rn = 1""".stripMargin,

    // median imputation: per-type ceil-index median over non-NULL rows,
    // NULLs coalesce to it, integer-cents check
    "q223_median_impute" ->
      """WITH e AS (
        |  SELECT event_type,
        |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
        |  FROM events),
        |m AS (
        |  SELECT event_type, v AS med FROM (
        |    SELECT event_type, v,
        |      row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
        |      count(*) OVER (PARTITION BY event_type) AS n
        |    FROM e WHERE v IS NOT NULL)
        |  WHERE rn = greatest(1, (n * 50 + 99) // 100)),
        |f AS (
        |  SELECT e.event_type, COALESCE(e.v, m.med) AS fv, e.v IS NULL AS imp
        |  FROM e JOIN m ON m.event_type = e.event_type)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN imp THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
        |  CAST(SUM(CAST(ROUND(fv * 100) AS BIGINT)) AS BIGINT) AS sum_filled_cents
        |FROM f GROUP BY 1""".stripMargin,

    // split leakage: the q43 brute pair set x the q58 md5 split
    // assignment — cross-split pair counts
    "q224_split_leakage" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
        |  WHERE length(trim(text)) > 0
        |), sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS s
        |  FROM toks
        |), pairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  ) WHERE jaccard >= 0.7
        |), sp AS (
        |  SELECT doc_id,
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'train'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT least(sa.split, sb.split) AS split_a,
        |  greatest(sa.split, sb.split) AS split_b,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM pairs p
        |JOIN sp sa ON sa.doc_id = p.id_a
        |JOIN sp sb ON sb.doc_id = p.id_b
        |GROUP BY 1, 2""".stripMargin,

    // term co-occurrence: the q193 basket SQL over (doc, token) items
    "q225_term_cooccurrence" ->
      """WITH items AS (
        |  SELECT DISTINCT doc_id AS b, tok AS i FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |    FROM documents WHERE length(trim(text)) > 0)
        |  WHERE len(tok) > 0),
        |nb AS (SELECT count(DISTINCT b) AS n FROM items),
        |sup AS (SELECT i, count(*) AS c FROM items GROUP BY 1),
        |pr AS (
        |  SELECT x.i AS a, y.i AS b2, count(*) AS np
        |  FROM items x JOIN items y ON x.b = y.b AND x.i < y.i
        |  GROUP BY 1, 2 HAVING count(*) >= 50),
        |dir AS (
        |  SELECT a AS ante, b2 AS cons, np FROM pr
        |  UNION ALL
        |  SELECT b2 AS ante, a AS cons, np FROM pr)
        |SELECT d.ante, d.cons, CAST(d.np AS BIGINT) AS n_pair,
        |  CAST(sa.c AS BIGINT) AS n_ante, CAST(sc.c AS BIGINT) AS n_cons,
        |  CAST(nb.n AS BIGINT) AS n_baskets,
        |  CAST(d.np AS DOUBLE) / CAST(sa.c AS DOUBLE) AS confidence,
        |  CAST(d.np * nb.n AS DOUBLE) / CAST(sa.c * sc.c AS DOUBLE) AS lift,
        |  CAST(d.np AS DOUBLE) / sqrt(CAST(sa.c * sc.c AS DOUBLE)) AS cosine
        |FROM dir d
        |JOIN sup sa ON sa.i = d.ante
        |JOIN sup sc ON sc.i = d.cons
        |CROSS JOIN nb""".stripMargin,

    // star join: the plain six-table SQL — the layout/broadcast strategy
    // changes the plan, never the result
    "q220_star_join" ->
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2)) * (CAST(1 AS DECIMAL(15,2)) - CAST(l_discount AS DECIMAL(15,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1""".stripMargin,

    // referential integrity: NOT EXISTS orphan counts per relationship
    "q221_ref_integrity" ->
      """SELECT 'lineitem->orders' AS relationship,
        |  CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_child,
        |  CAST((SELECT count(*) FROM lineitem l
        |        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS n_orphans
        |UNION ALL
        |SELECT 'lineitem->part',
        |  CAST((SELECT count(*) FROM lineitem) AS BIGINT),
        |  CAST((SELECT count(*) FROM lineitem l
        |        WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)) AS BIGINT)
        |UNION ALL
        |SELECT 'lineitem->supplier',
        |  CAST((SELECT count(*) FROM lineitem) AS BIGINT),
        |  CAST((SELECT count(*) FROM lineitem l
        |        WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)) AS BIGINT)
        |UNION ALL
        |SELECT 'orders->customer',
        |  CAST((SELECT count(*) FROM orders) AS BIGINT),
        |  CAST((SELECT count(*) FROM orders o
        |        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT)""".stripMargin,

    // streaming gini: complete-mode cell counts are batch-identical =>
    // the q218 oracle verbatim
    "q222_stream_gini" ->
      """WITH cells AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, CAST(SUM(c) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_cats,
        |  1.0 - CAST(SUM(c * c) AS DOUBLE) / CAST(SUM(c) * SUM(c) AS DOUBLE) AS gini
        |FROM cells GROUP BY 1""".stripMargin,

    // Spearman: midrank2 tables replayed by windows, HUGEINT rank
    // moments canonicalized through VARCHAR, the same Pearson tree
    "q215_spearman" ->
      """WITH d AS (
        |  SELECT l_returnflag AS g, l_quantity AS x, l_extendedprice AS y
        |  FROM lineitem),
        |cx AS (SELECT g, x, count(*) AS c FROM d GROUP BY 1, 2),
        |px AS (SELECT g, x,
        |    2 * (SUM(c) OVER (PARTITION BY g ORDER BY x) - c) + c + 1 AS mrx
        |  FROM cx),
        |cy AS (SELECT g, y, count(*) AS c FROM d GROUP BY 1, 2),
        |py AS (SELECT g, y,
        |    2 * (SUM(c) OVER (PARTITION BY g ORDER BY y) - c) + c + 1 AS mry
        |  FROM cy),
        |j AS (
        |  SELECT d.g, px.mrx, py.mry
        |  FROM d JOIN px ON px.g = d.g AND px.x = d.x
        |         JOIN py ON py.g = d.g AND py.y = d.y),
        |a AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS n,
        |    CAST(CAST(SUM(CAST(mrx AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sx,
        |    CAST(CAST(SUM(CAST(mry AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sy,
        |    CAST(CAST(SUM(CAST(mrx AS HUGEINT) * CAST(mry AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sxy,
        |    CAST(CAST(SUM(CAST(mrx AS HUGEINT) * CAST(mrx AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS sxx,
        |    CAST(CAST(SUM(CAST(mry AS HUGEINT) * CAST(mry AS HUGEINT)) AS VARCHAR) AS DOUBLE) AS syy
        |  FROM j GROUP BY g)
        |SELECT g AS l_returnflag, n,
        |  CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0.0
        |        AND CAST(n AS DOUBLE) * syy - sy * sy > 0.0 THEN
        |    (CAST(n AS DOUBLE) * sxy - sx * sy)
        |      / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy))
        |  END AS spearman_rho
        |FROM a""".stripMargin,

    // burst flags: the same trailing RANGE frame per user
    "q216_burst_flags" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS tns FROM events),
        |c AS (
        |  SELECT user_id,
        |    CAST(count(*) OVER (PARTITION BY user_id ORDER BY tns
        |      RANGE BETWEEN 3599999999999 PRECEDING AND CURRENT ROW) AS BIGINT) AS w
        |  FROM e)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(MAX(w) AS BIGINT) AS max_in_window,
        |  MAX(w) >= 10 AS flagged
        |FROM c GROUP BY 1""".stripMargin,

    // Gini mix: integer cell counts, one squared-total division
    "q218_gini_mix" ->
      """WITH cells AS (
        |  SELECT source, lang, CAST(count(*) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, CAST(SUM(c) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_cats,
        |  1.0 - CAST(SUM(c * c) AS DOUBLE) / CAST(SUM(c) * SUM(c) AS DOUBLE) AS gini
        |FROM cells GROUP BY 1""".stripMargin,

    // quantile vector: each percentile replayed as the ceil-index order
    // statistic by windows (oracle scale)
    "q209_group_quantiles" ->
      """WITH r AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS v,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT g AS l_returnflag, CAST(MIN(n) AS BIGINT) AS n,
        |  MIN(CASE WHEN rn = greatest(1, (n * 25 + 99) // 100) THEN v END) AS p25,
        |  MIN(CASE WHEN rn = greatest(1, (n * 50 + 99) // 100) THEN v END) AS p50,
        |  MIN(CASE WHEN rn = greatest(1, (n * 75 + 99) // 100) THEN v END) AS p75,
        |  MIN(CASE WHEN rn = greatest(1, (n * 90 + 99) // 100) THEN v END) AS p90,
        |  MIN(CASE WHEN rn = greatest(1, (n * 99 + 99) // 100) THEN v END) AS p99
        |FROM r GROUP BY g""".stripMargin,

    // Tukey fences: quartile order statistics + the same fixed fence
    // tree + exact outside counts
    "q210_tukey_fences" ->
      """WITH r AS (
        |  SELECT o_orderpriority AS g, o_totalprice AS v,
        |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS rn,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders),
        |q AS (
        |  SELECT g, CAST(MIN(n) AS BIGINT) AS n,
        |    CAST(MIN(CASE WHEN rn = greatest(1, (n * 25 + 99) // 100) THEN v END) AS DOUBLE) AS q1,
        |    CAST(MIN(CASE WHEN rn = greatest(1, (n * 75 + 99) // 100) THEN v END) AS DOUBLE) AS q3
        |  FROM r GROUP BY g),
        |f AS (
        |  SELECT g, n, q1, q3,
        |    q1 - 1.5 * (q3 - q1) AS lo_fence,
        |    q3 + 1.5 * (q3 - q1) AS hi_fence
        |  FROM q)
        |SELECT f.g AS o_orderpriority, f.n, f.q1, f.q3, f.lo_fence, f.hi_fence,
        |  CAST(SUM(CASE WHEN o.o_totalprice < f.lo_fence THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
        |  CAST(SUM(CASE WHEN o.o_totalprice > f.hi_fence THEN 1 ELSE 0 END) AS BIGINT) AS n_above
        |FROM f JOIN orders o ON o.o_orderpriority = f.g
        |GROUP BY 1, 2, 3, 4, 5, 6""".stripMargin,

    // conversion latency: nanos-exact first-view/first-purchase spine +
    // the same ceil-index percentiles
    "q211_conversion_latency" ->
      """WITH fv AS (
        |  SELECT user_id, MIN(epoch_ns(ts)) AS tv
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |lat AS (
        |  SELECT e.user_id, MIN(epoch_ns(e.ts) - fv.tv) AS latency_ns
        |  FROM events e JOIN fv ON fv.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) >= fv.tv
        |  GROUP BY 1),
        |r AS (
        |  SELECT latency_ns,
        |    row_number() OVER (ORDER BY latency_ns) AS rn,
        |    count(*) OVER () AS n
        |  FROM lat)
        |SELECT CAST(MIN(n) AS BIGINT) AS n,
        |  CAST(MIN(CASE WHEN rn = greatest(1, (n * 50 + 99) // 100) THEN latency_ns END) AS BIGINT) AS p50,
        |  CAST(MIN(CASE WHEN rn = greatest(1, (n * 90 + 99) // 100) THEN latency_ns END) AS BIGINT) AS p90,
        |  CAST(MIN(CASE WHEN rn = greatest(1, (n * 99 + 99) // 100) THEN latency_ns END) AS BIGINT) AS p99
        |FROM r""".stripMargin,

    // bucketed join: the plain join IS the oracle (the q170 pattern —
    // the layout changes the plan, never the result)
    "q204_bucketed_join" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2)) * (CAST(1 AS DECIMAL(15,2)) - CAST(l_discount AS DECIMAL(15,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    // anomalous hours: hourly counts + per-type lower-median order
    // statistics replayed by windows (oracle scale); integer throughout
    "q172_anomalous_hours" ->
      """WITH h AS (
        |  SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS bucket_s, event_type,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, n_events AS med FROM (
        |    SELECT event_type, n_events,
        |      row_number() OVER (PARTITION BY event_type ORDER BY n_events) AS rn,
        |      count(*) OVER (PARTITION BY event_type) AS n
        |    FROM h) WHERE rn = greatest(1, (n * 50 + 99) // 100)),
        |d AS (SELECT h.event_type, h.bucket_s, h.n_events, m.med,
        |        abs(h.n_events - m.med) AS ad
        |      FROM h JOIN m ON h.event_type = m.event_type),
        |md AS (SELECT event_type, ad AS mad FROM (
        |    SELECT event_type, ad,
        |      row_number() OVER (PARTITION BY event_type ORDER BY ad) AS rn,
        |      count(*) OVER (PARTITION BY event_type) AS n
        |    FROM d) WHERE rn = greatest(1, (n * 50 + 99) // 100))
        |SELECT d.event_type, d.bucket_s, d.n_events, d.med, md.mad
        |FROM d JOIN md ON d.event_type = md.event_type
        |WHERE d.ad * 1 > md.mad * 3""".stripMargin,

    // containment: brute all-pairs with the q43 shingle recipe; the
    // contained side is the smaller set (ties by id), score = |∩|/|small|
    "q174_containment_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
        |  WHERE length(trim(text)) > 0
        |), sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS s
        |  FROM toks
        |)
        |SELECT id_small, id_big, containment FROM (
        |  SELECT
        |    CASE WHEN len(a.s) < len(b.s) OR (len(a.s) = len(b.s) AND a.doc_id < b.doc_id)
        |         THEN a.doc_id ELSE b.doc_id END AS id_small,
        |    CASE WHEN len(a.s) < len(b.s) OR (len(a.s) = len(b.s) AND a.doc_id < b.doc_id)
        |         THEN b.doc_id ELSE a.doc_id END AS id_big,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      CAST(least(len(a.s), len(b.s)) AS DOUBLE) AS containment
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |) WHERE containment >= 0.8""".stripMargin,

    // dedup QA: the true pair count is the q43 brute recipe; both
    // contracts pinned TRUE (subset is structural, recall is measured)
    "q173_dedup_qa" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t FROM documents
        |  WHERE length(trim(text)) > 0
        |), sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |         ELSE list_distinct(list_transform(generate_series(1, len(t)-2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) END AS s
        |  FROM toks
        |), ex AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  ) WHERE jaccard >= 0.7)
        |SELECT CAST(count(*) AS BIGINT) AS n_exact,
        |  TRUE AS lsh_subset_of_exact, TRUE AS recall_ge_08
        |FROM ex""".stripMargin,

    // salted skew join: salting is invisible in the result — the oracle
    // is the plain join
    "q170_skew_join" ->
      """SELECT s.s_nationkey, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) AS sum_qty
        |FROM (SELECT CASE WHEN l_orderkey % 3 = 0 THEN 1 ELSE l_suppkey END AS k, l_quantity
        |      FROM lineitem) li
        |JOIN supplier s ON s.s_suppkey = li.k
        |GROUP BY 1""".stripMargin,

    // HTML strip: fixture + the whole chain replayed ('g' flags; &amp;
    // unescapes LAST in both engines)
    "q171_html_strip" ->
      """WITH h AS (
        |  SELECT doc_id, concat(
        |    '<html><head><title>Doc ', CAST(doc_id AS VARCHAR),
        |    '</title><style>p { color: red; }</style></head><body>',
        |    CASE WHEN doc_id % 4 = 0 THEN '<script>var x = 1 < 2 && doc;</script>' ELSE '' END,
        |    '<h1>Heading ', CAST(doc_id % 7 AS VARCHAR), '</h1><p class="body">',
        |    text, '</p>',
        |    CASE WHEN doc_id % 3 = 0 THEN '<div>Tom &amp; Jerry &lt;3 &quot;quoted&quot; it&#39;s&nbsp;here &amp;lt;escaped</div>' ELSE '' END,
        |    '<!-- hidden ', CAST(doc_id AS VARCHAR), ' --></body></html>') AS html
        |  FROM documents),
        |c1 AS (SELECT doc_id, regexp_replace(html, '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g') AS t FROM h),
        |c2 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t FROM c1),
        |c3 AS (SELECT doc_id, regexp_replace(t, '<[^>]+>', ' ', 'g') AS t FROM c2),
        |c4 AS (SELECT doc_id, replace(replace(replace(replace(replace(replace(t,
        |  '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS t FROM c3),
        |f AS (SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean_text FROM c4)
        |SELECT doc_id, clean_text, CAST(length(clean_text) AS BIGINT) AS n_chars FROM f""".stripMargin,

    "q175_retention_cohorts" ->
      """WITH a AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
        |  FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY 1)
        |SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
        |  CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    "q176_attribution" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, value, epoch_ns(ts) AS tns
        |  FROM events),
        |t AS (
        |  SELECT *,
        |    LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY tns, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_type,
        |    LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN tns END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY tns, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch_tns
        |  FROM e)
        |SELECT COALESCE(CASE WHEN tns - touch_tns <= 86400000000000 THEN touch_type END, '(none)') AS touch_type,
        |  CAST(count(*) AS BIGINT) AS n_conversions,
        |  CAST(SUM(CAST(value AS DECIMAL(15,2))) AS DOUBLE) AS total_value
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin,

    "q177_scd2_history" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, epoch_ns(ts) AS tns
        |  FROM events),
        |chg AS (
        |  SELECT * FROM (
        |    SELECT user_id, event_type, tns, event_id,
        |      LAG(event_type) OVER (PARTITION BY user_id ORDER BY tns, event_id) AS prev_type
        |    FROM e)
        |  WHERE prev_type IS DISTINCT FROM event_type)
        |SELECT user_id, event_type AS attr_value, tns AS valid_from_ns,
        |  LEAD(tns) OVER (PARTITION BY user_id ORDER BY tns, event_id) AS valid_to_ns,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tns, event_id) AS INT) AS version,
        |  LEAD(tns) OVER (PARTITION BY user_id ORDER BY tns, event_id) IS NULL AS is_current
        |FROM chg""".stripMargin,

    "q178_event_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ns(ts) AS tns, event_id
        |  FROM events),
        |n AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY tns, event_id) AS to_type
        |  FROM e),
        |m AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM n WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
        |FROM m""".stripMargin,

    "q179_expectation_suite" ->
      """WITH s AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS tot,
        |    CAST(SUM(CASE WHEN l_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) AS sat_nn,
        |    CAST(SUM(CASE WHEN l_quantity >= 0 THEN 1 ELSE 0 END) AS DOUBLE) AS sat_nneg,
        |    CAST(SUM(CASE WHEN l_discount >= 0.0 AND l_discount <= 0.1 THEN 1 ELSE 0 END) AS DOUBLE) AS sat_disc,
        |    CAST(SUM(CASE WHEN l_returnflag IN ('A','N','R') THEN 1 ELSE 0 END) AS DOUBLE) AS sat_rf,
        |    CAST(SUM(CASE WHEN l_linestatus IN ('O','F') THEN 1 ELSE 0 END) AS DOUBLE) AS sat_ls,
        |    CAST(SUM(CASE WHEN l_quantity <= 25.0 THEN 1 ELSE 0 END) AS DOUBLE) AS sat_q25,
        |    CAST(SUM(CASE WHEN l_shipdate < TIMESTAMP '2000-01-01' THEN 1 ELSE 0 END) AS DOUBLE) AS sat_ship
        |  FROM lineitem),
        |u AS (SELECT CAST(COUNT(*) AS BIGINT) AS uq FROM
        |  (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem
        |   WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL)),
        |ut AS (SELECT CAST(COUNT(*) AS BIGINT) AS uqt FROM lineitem
        |  WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL)
        |SELECT * FROM (
        |  SELECT 'not_null' AS check_name, 'l_orderkey' AS col_name, sat_nn/tot AS metric, sat_nn/tot >= 1.0 AS passed FROM s
        |  UNION ALL SELECT 'non_negative', 'l_quantity', sat_nneg/tot, sat_nneg/tot >= 1.0 FROM s
        |  UNION ALL SELECT 'in_range', 'l_discount', sat_disc/tot, sat_disc/tot >= 1.0 FROM s
        |  UNION ALL SELECT 'in_set', 'l_returnflag', sat_rf/tot, sat_rf/tot >= 1.0 FROM s
        |  UNION ALL SELECT 'in_set', 'l_linestatus', sat_ls/tot, sat_ls/tot >= 1.0 FROM s
        |  UNION ALL SELECT 'qty_le_25', 'l_quantity', sat_q25/tot, sat_q25/tot >= 0.9 FROM s
        |  UNION ALL SELECT 'ship_before_2000', 'l_shipdate', sat_ship/tot, sat_ship/tot >= 1.0 FROM s
        |  UNION ALL SELECT 'unique', 'l_orderkey,l_linenumber',
        |    CAST(uq AS DOUBLE)/CAST(uqt AS DOUBLE), uq = uqt FROM u, ut)""".stripMargin,

    "q180_dd_quantiles" ->
      """SELECT l_returnflag, TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q182_bloom_join" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) AS sum_qty,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1""".stripMargin,

    "q183_grouped_ols" -> groupedOlsOracle,
    // streaming OLS: order-free decimal state => drained == batch exactly
    "q234_stream_ols" -> groupedOlsOracle,


    "q184_vwap" ->
      """SELECT CAST(l_shipdate AS DATE) AS ship_day, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) AS volume,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2)) * CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE)
        |    / CAST(SUM(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) AS vwap
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q185_type_correlation" ->
      """WITH c AS (
        |  SELECT epoch_ns(ts) // 3600000000000 AS b, event_type AS cat,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |bk AS (SELECT DISTINCT b FROM c),
        |ct AS (SELECT DISTINCT cat FROM c),
        |d AS (
        |  SELECT bk.b, ct.cat, COALESCE(c.n, 0) AS n
        |  FROM bk CROSS JOIN ct LEFT JOIN c ON c.b = bk.b AND c.cat = ct.cat),
        |p AS (
        |  SELECT a.cat AS cat_a, bb.cat AS cat_b, a.n AS na, bb.n AS nb
        |  FROM d a JOIN d bb ON a.b = bb.b WHERE a.cat < bb.cat),
        |s AS (
        |  SELECT cat_a, cat_b, CAST(count(*) AS BIGINT) AS n_buckets,
        |    CAST(SUM(na) AS DOUBLE) AS sa, CAST(SUM(nb) AS DOUBLE) AS sb,
        |    CAST(SUM(na*nb) AS DOUBLE) AS sab, CAST(SUM(na*na) AS DOUBLE) AS saa,
        |    CAST(SUM(nb*nb) AS DOUBLE) AS sbb
        |  FROM p GROUP BY 1, 2)
        |SELECT cat_a, cat_b, n_buckets,
        |  CASE WHEN (CAST(n_buckets AS DOUBLE)*saa - sa*sa) > 0
        |        AND (CAST(n_buckets AS DOUBLE)*sbb - sb*sb) > 0
        |    THEN (CAST(n_buckets AS DOUBLE)*sab - sa*sb)
        |         / sqrt((CAST(n_buckets AS DOUBLE)*saa - sa*sa) * (CAST(n_buckets AS DOUBLE)*sbb - sb*sb)) END AS pearson_r
        |FROM s""".stripMargin,

    "q186_cdc_apply" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, op
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |WHERE rn = 1 AND op <> 'D'""".stripMargin,

    "q187_keyword_search" ->
      """SELECT doc_id FROM documents
        |WHERE len(list_intersect(
        |        list_distinct(string_split_regex(lower(trim(text)), '\s+')),
        |        ['vector', 'hash', 'stream'])) = 3""".stripMargin,

    "q188_jaro_linkage" ->
      """SELECT c_custkey,
        |  jaro_similarity(c_name, translate(c_name, 'aeiou', 'eioua')) AS jaro,
        |  jaro_winkler_similarity(c_name, translate(c_name, 'aeiou', 'eioua')) AS jw
        |FROM customer""".stripMargin,

    "q189_stream_cdc" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, op
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |WHERE rn = 1 AND op <> 'D'""".stripMargin,

    "q190_stream_quantiles" ->
      """SELECT event_type, TRUE AS p50_ok, TRUE AS p90_ok, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
  )

  def oracleSql: Map[String, String] = ListMap(oraclePairs: _*)
}
