package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode

/**
 * Plan-shape assertions: the properties that make these operators survive a
 * 100 TB / 1000-executor deployment, pinned so a refactor can't silently
 * regress them.
 */
class PlanSpec extends SparkSpec {

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("semi-join: build side prunes to the key column and broadcasts; probe side never shuffles") {
    val plan = formatted(SparkEntry.queries("q01_semijoin_orders")(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin LeftSemi"), plan)
    // column pruning reached the build-side scan (reference does this by
    // hand, join.rs:42-56; Catalyst does it from .select)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint>"), plan)
    // exactly one exchange (pre-broadcast distinct); the probe rows never move
    assert("(?m)^.*\\(\\d+\\) Exchange$".r.findAllIn(plan).size <= 1, plan)
  }

  test("filter + projection push down to the parquet scan") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val q = li.filter(col("l_quantity") > 30.0).select(col("l_orderkey"), col("l_quantity"))
    val plan = formatted(q)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"), plan)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), plan)
  }

  test("aggregation is partial (map-side) before the exchange") {
    val plan = formatted(SparkEntry.queries("q20_agg_pricing")(spark, sf0001))
    val firstAgg = plan.indexOf("HashAggregate")
    val exchange = plan.indexOf("Exchange")
    assert(firstAgg >= 0 && exchange >= 0 && plan.indexOf("HashAggregate", exchange) > exchange,
      "expected partial aggregate below and final aggregate above the exchange\n" + plan)
  }

  test("whole-stage codegen covers the scan->project pipeline of text stats") {
    // '*(n)' prefixes mark operators fused into WholeStageCodegen stage n
    val q = SparkEntry.queries("q60_text_stats")(spark, sf0001)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
  }

  test("custom vector expressions stay inside whole-stage codegen (no fallback)") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = e.select(graft.functions.vec_cosine(col("embedding"), col("embedding")).as("c"))
      .filter(col("c") > 0.5)
    val plan = q.queryExecution.executedPlan.toString
    // vec_cosine appears inside '*'-marked (codegen'd) Project and Filter
    assert(plan.contains("*(1) Project [vec_cosine"), plan)
    assert(plan.contains("*(1) Filter"), plan)
    // force execution to prove the generated code actually compiles and runs
    assert(q.count() > 0)
  }

  test("exact sampler never funnels rows to the driver (no CollectLimit/TakeOrdered)") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val samples = Seq(
      graft.operators.Sampler.exact(li, 0.01, 42L),
      graft.operators.Sampler.exactFromParquet(spark, s"$sf0001/lineitem.parquet", 0.01, 42L))
    for (sampled <- samples) {
      val plan = sampled.queryExecution.executedPlan.toString
      assert(!plan.contains("CollectLimit") && !plan.contains("TakeOrderedAndProject"), plan)
      // the selection is a filter over the materialized candidates: no
      // range sort (or any other exchange) left on the sample's path
      assert(!plan.contains("Exchange"), plan)
    }
  }

  test("pivot with pinned values plans as aggregates only — no distinct-values pre-job") {
    val q = SparkEntry.queries("q91_pivot")(spark, sf0001)
    val plan = formatted(q)
    // pinned pivot values -> pure two-phase aggregate plan ((rf,ls) agg,
    // then transpose agg on rf): at most 2 exchanges, and no extra job to
    // discover pivot values (which .pivot(col) without values would run
    // eagerly, before this plan even exists)
    assert("(?m)^\\s*\\(\\d+\\) Exchange$".r.findAllIn(plan).size <= 2, plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("gap-fill resample joins spine to counts without a cartesian product") {
    val plan = formatted(SparkEntry.queries("q94_resample_gapfill")(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("corpus pipeline: two shuffles total, dedup top-1 runs map-side (WindowGroupLimit)") {
    val plan = formatted(SparkEntry.queries("q99_corpus_pipeline")(spark, sf0001))
    // language/quality scoring fuse into the scan stage; the only data
    // movements are the dedup hash-partition by text and the final agg
    assert("(?m)^\\s*\\(\\d+\\) Exchange$".r.findAllIn(plan).size <= 2, plan)
    // Spark's rank-limit pushdown prunes per-text duplicates BEFORE the
    // shuffle — the dedup exchange moves one row per distinct text per
    // partition, not the whole corpus
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("hive-style partitioned layout prunes partitions at plan time") {
    val out = java.nio.file.Files.createTempDirectory("graft_part").toString
    spark.read.parquet(s"$sf0001/orders.parquet")
      .write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
    val q = spark.read.parquet(out).filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val plan = formatted(q)
    // the predicate must land in PartitionFilters (directory pruning — at
    // 100 TB this is the difference between scanning one partition and all)
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderpriority"), plan)
    assert(q.count() > 0)
  }

  test("embedding near-dup: no pair-level shuffle before the cosine filter") {
    // the candidate join's output must flow through Project(vec_cosine) and
    // Filter BEFORE any further exchange: survivors (bounded by true output)
    // are the only pair-shaped rows that ever shuffle
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val pairs = graft.ext.Dedup.embeddingNearDupPairs(e, "vec_id", "embedding",
      dim = 64, threshold = 0.4, numPlanes = 16, bands = 8)
    val plan = pairs.queryExecution.executedPlan.toString
    val cosIdx = plan.indexOf("vec_cosine")
    val joinIdx = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .map(plan.indexOf(_, cosIdx)).filter(_ >= 0).minOption.getOrElse(-1)
    assert(cosIdx >= 0, plan)
    assert(joinIdx > cosIdx, s"cosine filter must sit directly on the join output\n$plan")
    // and nothing between them moves data: no exchange separates the join
    // from the cosine projection/filter that consumes it
    assert(!plan.substring(cosIdx, joinIdx).contains("Exchange"),
      s"shuffle between candidate join and cosine filter\n$plan")
  }

  test("decontamination: eval grams broadcast; the training corpus never sort-merge-joins") {
    val plan = formatted(SparkEntry.queries("q66_decontaminate")(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      "train-side join must stay broadcast (eval-gram set is bounded)\n" + plan)
  }

  test("corpus top-bigrams: top-k cut (TakeOrdered) runs BEFORE the rank window") {
    val plan = formatted(SparkEntry.queries("q67_top_bigrams")(spark, sf0001))
    val take = plan.indexOf("TakeOrderedAndProject")
    val win = plan.indexOf("Window")
    assert(take >= 0, plan)
    // formatted explain lists operators top-down: the window must sit ABOVE
    // the TakeOrdered cut, i.e. appear earlier in the text — the full gram
    // dictionary never funnels through the single-partition rank
    assert(win >= 0 && win < take,
      "rank window must consume only the TakeOrdered top-k rows\n" + plan)
  }

  test("repetition stats: both gram aggregations are partial (map-side) before their exchange") {
    val plan = formatted(SparkEntry.queries("q64_repetition_stats")(spark, sf0001))
    // two-level agg on (doc, gram): a HashAggregate must sit BELOW the
    // exchange (map-side partial combine before any shuffle); in formatted
    // top-down text that means another HashAggregate after the Exchange
    val exchange = plan.indexOf("Exchange")
    assert(exchange > 0 && plan.indexOf("HashAggregate", exchange) > exchange,
      "expected map-side partial aggregate below the shuffle\n" + plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("tfidf: scan prunes to (doc_id, text); term aggs are partial before their exchange") {
    val plan = formatted(SparkEntry.queries("q110_tfidf_keywords")(spark, sf0001))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), plan)
    val exchange = plan.indexOf("Exchange")
    assert(exchange > 0 && plan.indexOf("HashAggregate", exchange) > exchange,
      "expected map-side partial term count below the shuffle\n" + plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("fuzzy join: candidates come from an equi-join, never a nested-loop/cartesian product") {
    val plan = formatted(SparkEntry.queries("q112_fuzzy_join")(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), plan)
    // the only NestedLoop tolerable would be a broadcast one with a real
    // condition; the PassJoin block key makes even that unnecessary
    assert(!plan.contains("NestedLoopJoin"), plan)
  }

  test("geo radius join: candidates come from an equi-join on cell keys, never a cross join") {
    val plan = formatted(SparkEntry.queries("q250_geo_radius_join")(spark, sf0001))
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoopJoin"),
      "grid blocking must equi-join on cells\n" + plan)
  }

  test("KM survival: the log shuffles once into the per-user agg; no window at all") {
    val plan = formatted(SparkEntry.queries("q255_km_survival")(spark, sf0001))
    // the risk accumulation is a broadcast theta self-join of the tiny
    // duration relation — a Window here would be the global-sort trap
    assert(!plan.contains("Window"), "risk table must not use a window\n" + plan)
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "expected the broadcast theta join over the duration relation\n" + plan)
  }

  test("no query plans a global (unpartitioned) window over an unbounded input") {
    // A Window with an empty partition spec forces Exchange(SinglePartition):
    // every input row funnels through ONE task — the textbook 100 TB
    // straggler. Total-order consumers must use GlobalRank's distributed
    // range-sort instead. A global window IS fine when its input is already
    // bounded by a limit/top-k cut (e.g. rank/cumsum over a TakeOrdered's
    // k rows) — those plans never see the full table.
    import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.window.WindowExec
    def bounded(p: SparkPlan): Boolean = p.exists {
      case _: TakeOrderedAndProjectExec | _: GlobalLimitExec | _: LocalLimitExec => true
      case _ => false
    }
    val offenders = SparkEntry.queryPairs.flatMap { case (name, fn) =>
      val plan = fn(spark, sf0001).queryExecution.sparkPlan
      val bad = plan.collect {
        case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) => w
      }
      if (bad.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"single-partition global window over unbounded input in: ${offenders.mkString(", ")}")
  }

  test("codec decode + pseudonymization are scan-fused: zero Exchange in the plan") {
    // payload decode and token hashing must never move bytes across the
    // wire — a shuffle here would ship raw media/identifiers cluster-wide
    for (q <- Seq("q270_g711_decode_stats", "q271_adpcm_decode", "q274_pseudonymize",
        "q279_audio_periodicity")) {
      val plan = SparkEntry.queries(q)(spark, sf0001).queryExecution.sparkPlan.toString
      assert(!plan.contains("Exchange"), s"$q must not shuffle\n$plan")
    }
  }

  test("context packing ranks via GlobalRank's range sort, never a window") {
    val plan = SparkEntry.queries("q277_context_pack")(spark, sf0001)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("Window"), "packing must not use a window\n" + plan)
    assert(plan.contains("ExistingRDD"), "packing must rank via GlobalRank's RDD path\n" + plan)
  }

  test("DSIR scoring joins the bucket log-ratio table by broadcast") {
    // the ratio relation is bounded by `buckets`; shipping it beats
    // shuffling the corpus-sized feature stream
    val plan = formatted(SparkEntry.queries("q278_dsir_weights")(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"),
      "expected the bucket ratio table on the broadcast side\n" + plan)
  }

  test("curriculum ordering + equi-depth histogram rank via distributed range sort (no global window)") {
    for (q <- Seq("q123_curriculum_order", "q124_equidepth_histogram")) {
      val plan = SparkEntry.queries(q)(spark, sf0001).queryExecution.sparkPlan.toString
      assert(!plan.contains("Window"), s"$q must not use a window\n$plan")
      // GlobalRank's createDataFrame severs the visible lineage at the RDD
      // rank assignment — the range-partitioned sort lives in that RDD's
      // lineage (pinned by GlobalRankSpec), never in a single-partition plan
      assert(plan.contains("ExistingRDD"), s"$q must rank via GlobalRank's RDD path\n$plan")
    }
  }

  test("native as-of join: q146 plans the custom AsOfJoinExec, no window, no generic join") {
    // the whole-operator path: one merge exec over co-partitioned sorted
    // children — neither the union+window fill nor any built-in join node
    val plan = SparkEntry.queries("q146_asof_native")(spark, sf0001)
      .queryExecution.sparkPlan
    assert(plan.exists(_.isInstanceOf[org.apache.spark.sql.graft.AsOfJoinExec]),
      s"expected AsOfJoinExec in\n$plan")
    val s = plan.toString
    assert(!s.contains("WindowExec") && !s.contains("SortMergeJoin") &&
      !s.contains("BroadcastHashJoin"), s"unexpected fallback operator in\n$s")
  }

  test("corpus rewrite: first-occurrence dedup is a min-struct agg — no window, no join") {
    // a per-segtext window would funnel a million-doc boilerplate segment
    // through one task; the shipped plan must stay pure hash-agg
    val plan = SparkEntry.queries("q137_corpus_segment_dedup")(spark, sf0001)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("Window"), "corpus dedup must not use a window\n" + plan)
    assert(!plan.contains("Join"), "corpus dedup must not join\n" + plan)
  }

  test("boilerplate strip: the removal set broadcasts (no sort-merge anti join)") {
    val plan = SparkEntry.queries("q139_boilerplate_strip")(spark, sf0001)
      .queryExecution.sparkPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      "expected broadcast anti join for the boilerplate set\n" + plan)
    assert(!plan.contains("SortMergeJoin"), "the corpus must never sort-merge\n" + plan)
  }

  test("bloom decontamination scores with NO join and NO shuffle: pure scan projection") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val scored = graft.ext.CorpusFilters.bloomDecontaminate(
      docs.filter(col("doc_id") % 50 =!= 0), docs.filter(col("doc_id") % 50 === 0),
      "doc_id", "text", n = 5)
    val plan = formatted(scored)
    assert(!plan.contains("Join"), "the probe path must be joinless\n" + plan)
    assert(!plan.contains("Exchange"), "the probe path must be shuffle-free\n" + plan)
  }

  test("hamming pairs: candidates come from an equi-join on chunk keys, never a cartesian") {
    val plan = formatted(SparkEntry.queries("q151_image_dhash_pairs")(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("winsorize: threshold join broadcasts; no per-group window sort anywhere") {
    val plan = formatted(SparkEntry.queries("q153_winsorize")(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Window"), "thresholds must come from GlobalRank, not a window\n" + plan)
  }

  test("filtered vector search: the allow-set prunes the index via a semi join") {
    val plan = formatted(SparkEntry.queries("q158_knn_filtered")(spark, sf0001))
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("MAD outliers: both order-statistic joins broadcast; no per-group window sort") {
    val plan = formatted(SparkEntry.queries("q163_mad_outliers")(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Window"),
      "medians/MADs must come from GlobalRank total orders, not windows\n" + plan)
  }

  test("triangle count: wedges and closures are hash equi-joins, never a cartesian") {
    val plan = formatted(SparkEntry.queries("q162_graph_triangles")(spark, sf0001))
    assert(!plan.contains("CartesianProduct"), plan)
    // the only nested-loop join allowed is the 1-row count broadcast in
    // the edge FIXTURE (crossJoin with agg(count)); the triangle joins
    // themselves must all be hash joins on node keys
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("hard-negative mining: anchors broadcast; per-side top-1 is an aggregate, not a window") {
    val plan = formatted(SparkEntry.queries("q166_hard_negatives")(spark, sf0001))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Window"),
      "top-1 per (anchor, side) must be the bottom-k aggregate, not a window\n" + plan)
  }

  test("skew join: the salted small side broadcasts (hot key spread across reducers)") {
    val plan = formatted(SparkEntry.queries("q170_skew_join")(spark, sf0001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("URL normalize + HTML strip are single-scan projections: no join, no cartesian") {
    for (q <- Seq("q165_url_normalize", "q171_html_strip")) {
      val plan = formatted(SparkEntry.queries(q)(spark, sf0001))
      // the whole normalize/strip chain fuses over ONE scan of documents
      // (each scan prints one Location: line in formatted mode)
      assert("Location:".r.findAllIn(plan).size === 1, s"$q\n$plan")
      assert(!plan.contains("Join"), s"$q\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q\n$plan")
    }
  }

  test("bloom join: the probe scan is pre-filtered by the bloom probe; the dim side broadcasts") {
    val plan = formatted(SparkEntry.queries("q182_bloom_join")(spark, sf0001))
    // the probe expression must sit in a Filter BELOW the join — fact rows
    // that can't match die before the shuffle/broadcast exchange
    assert(plan.contains("bloom_might_contain"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("grouped OLS + VWAP: one map-side-combined aggregate pass, no join, no window") {
    for (q <- Seq("q183_grouped_ols", "q184_vwap")) {
      val plan = SparkEntry.queries(q)(spark, sf0001).queryExecution.sparkPlan.toString
      assert(!plan.contains("Join"), s"$q\n$plan")
      assert(!plan.contains("Window"), s"$q\n$plan")
      // partial aggregation present (sums, not points, cross the shuffle)
      assert(plan.contains("partial_sum"),
        s"$q expected map-side partial sums\n$plan")
    }
  }

  test("expectation suite: the whole row-level check set is one scan + one single-row aggregate") {
    val plan = SparkEntry.queries("q179_expectation_suite")(spark, sf0001)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("Join"), plan)
    assert("Location:".r.findAllIn(plan).size <= 1, plan)
  }

  test("retention cohorts: the log collapses to distinct (user, day) before any join") {
    val plan = SparkEntry.queries("q175_retention_cohorts")(spark, sf0001)
      .queryExecution.sparkPlan.toString
    // both join inputs are aggregates of the projected two-column activity
    // relation; the raw event log never reaches the join
    assert(!plan.contains("CartesianProduct"), plan)
    val joinAt = plan.indexOf("Join")
    assert(joinAt > 0, plan)
    assert(plan.indexOf("HashAggregate", joinAt) > joinAt,
      "expected the distinct/min-day aggregates below the join\n" + plan)
  }

  test("DDSketch quantiles: the sketch aggregate partials map-side (sketches, not rows, shuffle)") {
    val plan = SparkEntry.queries("q180_dd_quantiles")(spark, sf0001)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("ObjectHashAggregate") && plan.contains("partial_ddsketch_agg"),
      "expected a partial (map-side) ddsketch aggregate\n" + plan)
  }

  test("rank statistics (KS, Mann-Whitney, weighted median, quantile vector) rank via GlobalRank, never a window") {
    for (q <- Seq("q203_ks_test", "q205_mann_whitney", "q192_weighted_median",
        "q209_group_quantiles")) {
      val plan = SparkEntry.queries(q)(spark, sf0001).queryExecution.sparkPlan.toString
      assert(!plan.contains("Window"), s"$q must not use a window\n$plan")
      assert(plan.contains("ExistingRDD"), s"$q must rank via GlobalRank's RDD path\n$plan")
      // the tiny per-group span/threshold tables join back broadcast
      assert(plan.contains("BroadcastHashJoin"), s"$q span join must broadcast\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"$q must not sort-merge join\n$plan")
    }
  }

  test("association rules: supports join back broadcast, no cartesian anywhere") {
    val plan = SparkEntry.queries("q193_assoc_rules")(spark, sf0001)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("rolling actives: bounded explode + semi-join clip, the log never self-joins") {
    val plan = SparkEntry.queries("q202_rolling_actives")(spark, sf0001)
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Generate"), "expected the window-length explode\n" + plan)
    assert(plan.contains("LeftSemi"), "expected the observed-day clip semi join\n" + plan)
  }

  test("bucketed join: neither join input is re-shuffled") {
    // at sf0.001 the dim side broadcasts (fine — still no shuffle); at
    // scale both sides are bucketed so an SMJ runs exchange-free either
    // way. The pin: NO hash-partitioning Exchange below the join — the
    // only shuffle in the whole plan is the final 3-row aggregate's.
    val plan = SparkEntry.queries("q204_bucketed_join")(spark, sf0001)
      .queryExecution.sparkPlan.toString
    val joinAt = plan.indexOf("Join")
    assert(joinAt > 0, plan)
    assert(!plan.substring(joinAt).contains("Exchange hashpartitioning"),
      "bucketed join must not re-shuffle its inputs\n" + plan)
    assert(plan.contains("g204_li") && plan.contains("g204_o"),
      "expected bucketed table scans\n" + plan)
  }

  test("rollup rewrite: q288's executed scan reads the rollup table, not the fact") {
    val plan = formatted(SparkEntry.queries("q288_rollup_rewrite")(spark, sf0001))
    assert(plan.contains("rollup"), "expected the rollup path in the scan\n" + plan)
    assert(!plan.replaceAll("graft_serve_rollupfact", "").contains("fact"),
      "the fact scan must be rewritten away\n" + plan)
  }

  test("bitmap overlap: one exchange to the segment relation, pair side broadcasts") {
    val plan = formatted(SparkEntry.queries("q284_bitmap_segments")(spark, sf0001))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
    // the fact table is scanned once: exactly one events scan pair feeds
    // the two bitmap agg sides via ReusedExchange or a shared scan
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2, plan)
  }

  test("filtered IVF-PQ: the allow-set is a SEMI-JOIN in the plan (index-level, never a post-filter)") {
    val plan = formatted(SparkEntry.queries("q302_knn_ivfpq_filtered")(spark, sf0001))
    // the predicate must gate the candidate relation as a semi join — a
    // regression to .filter-after-topk would silently reintroduce the
    // post-filter recall cliff and disappear from this plan
    assert(plan.contains("LeftSemi"), "expected the allow-set semi-join\n" + plan)
  }

  test("TxLog change feed: union of delta scans, ONE shuffle, map-side partial agg") {
    val plan = formatted(SparkEntry.queries("q305_txlog_changefeed")(spark, sf0001))
    assert(plan.contains("Union"), plan)
    // partial agg before the single exchange: history is never re-read and
    // nothing shuffles except the grouped result
    assert("(?m)^.*\\(\\d+\\) Exchange$".r.findAllIn(plan).size == 1, plan)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("TxLog schema-merged read: one shuffle into the grouped result") {
    val plan = formatted(SparkEntry.queries("q300_txlog_schema_evolution")(spark, sf0001))
    assert("(?m)^.*\\(\\d+\\) Exchange$".r.findAllIn(plan).size == 1, plan)
  }

  test("TxLog full-CDF feed scans ONLY the rewrite's manifest-diff segments, never kept ones") {
    import spark.implicits._
    import graft.io.TxLog
    val tbl = graft.io.TempDirs.create("plan_cdf_").resolve("t").toString
    TxLog.create(spark, tbl, Seq((1L, "a"), (2L, "b")).toDF("k", "t"))   // seg A
    TxLog.append(spark, tbl, Seq((11L, "x"), (12L, "y")).toDF("k", "t")) // seg B
    val segA = TxLog.history(tbl).head.segments.head
    val segB = TxLog.latest(tbl).segments.filterNot(_ == segA).head
    TxLog.upsert(spark, tbl, Seq((12L, "y2")).toDF("k", "t"), Seq("k"))  // touches B only
    assert(TxLog.latest(tbl).segments.contains(segA), "COW must keep seg A verbatim")
    val plan = formatted(TxLog.changeFeed(spark, tbl, 1L))
    // the copy-on-write manifest diff makes the feed's cost track the
    // rewrite's TOUCHED volume: the kept segment must not be scanned
    assert(!plan.contains(segA.stripPrefix("data/")),
      s"CDF feed must not scan the kept segment $segA\n" + plan)
    assert(plan.contains(segB.stripPrefix("data/")),
      s"CDF feed must scan the rewritten segment $segB\n" + plan)
  }

  test("TxLog deletion vectors: dv-less reads plan NO join; a dv read is one anti-join") {
    import spark.implicits._
    import graft.io.TxLog
    val tbl = graft.io.TempDirs.create("plan_dv_").resolve("t").toString
    TxLog.create(spark, tbl, spark.range(0, 1000).selectExpr("id AS k", "id AS v"))
    // clean table: the read is a bare scan — merge-on-read costs nothing
    // until a vector exists
    val clean = formatted(TxLog.read(spark, tbl))
    assert(!clean.contains("Join"), s"dv-less read must plan no join\n$clean")
    TxLog.deleteRows(spark, tbl, col("k") % 100 === 7)
    // dv table: exactly ONE anti-join applies the tombstones; the
    // positions side is tiny and broadcastable
    val dv = formatted(TxLog.read(spark, tbl))
    def nJoins(plan: String) =
      "(?m)^\\(\\d+\\) [A-Za-z]*Join".r.findAllIn(plan).size
    assert(nJoins(dv) == 1 && dv.contains("LeftAnti"),
      s"expected one anti join\n$dv")
    // a partial range read of a dv table keeps its single anti-join and
    // the pushed range predicate on the scan
    val rw = formatted(TxLog.readWhere(spark, tbl, "k", 10.0, 20.0))
    assert(nJoins(rw) == 1 && rw.contains("LeftAnti"), rw)
    assert(rw.contains("PushedFilters") &&
      (rw.contains("GreaterThanOrEqual(k,10)") || rw.contains("GreaterThanOrEqual")),
      s"range must push to the scan\n$rw")
    // after materialization the join is gone again
    TxLog.materializeVectors(spark, tbl)
    val mat = formatted(TxLog.read(spark, tbl))
    assert(!mat.contains("Join"), s"materialized read must plan no join\n$mat")
  }

}
