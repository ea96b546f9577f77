package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

class SamplerSpec extends SparkSpec {
  import spark.implicits._

  private lazy val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
  private lazy val total = li.count()

  test("exact sampling returns exactly floor(count*ratio) rows") {
    for (r <- Seq(0.001, 0.01, 0.5)) {
      val n = (total * r).toLong
      assert(Sampler.exact(li, r, seed = 42L).count() === n, s"ratio $r")
    }
  }

  test("ratio edge cases: 0 -> empty, 1 -> identity, tiny -> floor to 0") {
    assert(Sampler.exact(li, 0.0, 42L).count() === 0)
    assert(Sampler.exact(li, 1.0, 42L).count() === total)
    // ratio small enough that n*r < 1 => empty but valid (reference §2.3.1)
    assert(Sampler.exact(li, 1e-9, 42L).count() === 0)
  }

  test("ratio > 1 rejected (the reference binary would hang)") {
    intercept[IllegalArgumentException](Sampler.exact(li, 1.5, 42L))
    intercept[IllegalArgumentException](Sampler.bernoulli(li, -0.1, 42L))
  }

  test("sample is a subset of the input (multiset) with the input schema") {
    val s = Sampler.exact(li, 0.05, 42L)
    assert(s.schema === li.schema)
    // multiset subset: every sampled row occurs at most as often as in input
    val cnt = s.groupBy(li.columns.map(col): _*).count().withColumnRenamed("count", "s_cnt")
    val in = li.groupBy(li.columns.map(col): _*).count().withColumnRenamed("count", "i_cnt")
    val bad = cnt.join(in, li.columns.toSeq, "left")
      .filter($"i_cnt".isNull || $"s_cnt" > $"i_cnt")
    assert(bad.count() === 0)
  }

  test("same seed -> identical sample; different seed -> different sample") {
    def ids(seed: Long) =
      Sampler.exact(li, 0.02, seed).select($"l_orderkey", $"l_linenumber")
        .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(ids(42L) === ids(42L))
    assert(ids(42L) !== ids(43L))
  }

  test("positional (file-based) sampling is deterministic and exact") {
    def run() = Sampler.exactFromParquet(spark, s"$sf0001/lineitem.parquet", 0.02, 7L)
    val a = run(); val b = run()
    assert(a.count() === (total * 0.02).toLong)
    assert(a.schema === li.schema)
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0)
  }

  test("exactFromParquet: exactly the n smallest positional ranks (brute-force replay)") {
    val path = s"$sf0001/lineitem.parquet"
    val n = (total * 0.02).toLong
    val want = spark.read.parquet(path).withColumn("__r", Sampler.positionalRank(7L))
      .orderBy($"__r").limit(n.toInt).drop("__r")
    val got = Sampler.exactFromParquet(spark, path, 0.02, 7L)
    assert(got.count() === n)
    assert(RelCheck.multisetEquals(got, want))
  }

  test("constant rank: all ties, too few threshold candidates -> still exactly n rows") {
    // every key ties on the rank, so only the position tie-break separates
    // them. n = 50: lit(0.99) sits above the threshold, the first scan
    // keeps nothing and the rescan takes every row. n = total - 10: the
    // upper threshold is 1, and every row waits for the cut.
    for (n <- Seq(50L, total - 10)) {
      val got = Sampler.exactN(li, n, 42L, rankCol = Some(lit(0.99)))
      assert(got.count() === n, s"n=$n")
      assert(got.schema === li.schema)
      assert(got.intersectAll(li).count() === n, s"n=$n: not a sub-multiset")
    }
  }

  // a 53-bit hash of the id mapped to U[0,1): uniform and, in practice, distinct
  private def hashRank(seed: Long) =
    shiftrightunsigned(xxhash64(lit(seed), col("id")), 11).cast("double") / lit((1L << 53).toDouble)

  test("many partitions: only the wait-list reaches the cut, and the driver gets at most its keys") {
    // 200 partitions of ~53 candidates each. A cut over all ~10.6k
    // candidates would let every partition send all of its keys.
    val total = 1000000L
    val n = 10000L
    val df = spark.range(0, total, 1, 200).toDF("id")
    val s = Sampler.smallestN(df, hashRank(3L), n, total)
    // Meng's thresholds at 1e-8 leave (hi - lo) * total ~ 1220 rows waiting
    assert(s.waitList > 0 && s.waitList < 1500, s"wait-list ${s.waitList}")
    assert(s.keysToDriver <= s.waitList)
    assert(s.accepted > n - s.waitList && s.accepted <= n)
    val want = df.orderBy(hashRank(3L)).limit(n.toInt).as[Long].collect().toSet
    assert(s.sample.as[Long].collect().toSet === want)
  }

  test("a rank that is NULL on most rows still gives the n smallest ranks") {
    // 1 row in 10 has a rank, so the first threshold keeps ~n/10 rows and
    // the rescan's thresholds come from the rank density that scan saw
    val df = spark.range(0, 100000, 1, 8).toDF("id")
    val rank = when(col("id") % 10 === 0, hashRank(5L))
    val want = df.orderBy(rank.asc_nulls_last).limit(1000).as[Long].collect().toSet
    assert(Sampler.exactN(df, 1000, 0L, rankCol = Some(rank)).as[Long].collect().toSet === want)
  }

  test("a wait-list over the 2^16-key budget: bisection narrows a skewed one; ties cut by position") {
    val df = spark.range(0, 200000, 1, 8).toDF("id")
    val n = 1000L
    // u^8 piles the ranks near 0: about 100k fall below the lower
    // threshold, so all ~105k candidates wait and bisection must narrow them
    val skewed = pow(hashRank(11L), 8.0)
    val s = Sampler.smallestN(df, skewed, n, 200000L)
    assert(s.waitList <= (1L << 16) && s.keysToDriver <= s.waitList)
    val want = df.orderBy(skewed).limit(n.toInt).as[Long].collect().toSet
    assert(s.sample.as[Long].collect().toSet === want)
    // one rank value on 70k rows: the first n rows by position, one key to
    // the driver
    val tie = Sampler.smallestN(spark.range(0, 70000, 1, 8).toDF("id"), lit(0.5), n, 70000L)
    assert(tie.keysToDriver === 1)
    assert(tie.sample.as[Long].collect().toSet === (0L until n).toSet)
  }

  test("the sample keeps the input's rows per partition: 8 files -> 1% in 1, 50% in 4") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sample8").toString + "/in"
    li.repartition(8).write.parquet(dir)
    // one split per file: without this floor, local[4] packs the 8 small
    // files two to a split
    spark.conf.set("spark.sql.files.minPartitionNum", "8")
    try {
      assert(spark.read.parquet(dir).rdd.getNumPartitions === 8)
      def parts(r: Double) = Sampler.exactFromParquet(spark, dir, r, 5L).rdd.getNumPartitions
      assert(parts(0.01) === 1)
      assert(parts(0.5) === 4)
    } finally spark.conf.unset("spark.sql.files.minPartitionNum")
  }

  test("exactNByHexRank: exactly the n lexicographically-smallest md5 ranks, engine-replayable") {
    import org.apache.spark.sql.functions.{col, concat_ws, lit, md5}
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val rk = md5(concat_ws(":", lit("42"), col("l_orderkey").cast("string"),
      col("l_linenumber").cast("string")).cast("binary"))
    val got = Sampler.exactNByHexRank(li, 0.05, rk)
    val total = li.count()
    val n = (total * 0.05).toLong
    assert(got.count() === n)
    assert(got.schema === li.schema)
    // ground truth: brute-force n smallest ranks (the DuckDB replay recipe)
    val want = li.withColumn("__r", rk).orderBy($"__r").limit(n.toInt)
      .select($"l_orderkey", $"l_linenumber")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val gotKeys = got.select($"l_orderkey", $"l_linenumber")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(gotKeys === want)
    // deterministic: no RNG anywhere
    val again = Sampler.exactNByHexRank(li, 0.05, rk)
      .select($"l_orderkey", $"l_linenumber")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(again === gotKeys)
    assert(Sampler.exactNByHexRank(li, 0.0, rk).count() === 0)
    assert(Sampler.exactNByHexRank(li, 1.0, rk).count() === total)
    intercept[IllegalArgumentException] { Sampler.exactNByHexRank(li, 1.5, rk) }
  }

  test("exactNByHexRank: NULL ranks sort last; too few non-NULL ranks still give exactly n") {
    // only ids 1-4 have a key, so only they get a non-NULL rank
    val df = (1L to 20L).toDF("id").withColumn("k", when($"id" <= 4, $"id"))
    def ids(ratio: Double) = Sampler.exactNByHexRank(df, ratio, Sampler.hexRank("s", $"k"))
      .select($"id").as[Long].collect().toSet
    assert(ids(0.1).size === 2 && ids(0.1).subsetOf((1L to 4L).toSet))
    assert(ids(0.5).size === 10 && (1L to 4L).toSet.subsetOf(ids(0.5)))
  }

  test("exactN caps at total and handles n=0") {
    assert(Sampler.exactN(li, total + 100, 42L).count() === total)
    assert(Sampler.exactN(li, 0, 42L).count() === 0)
  }

  test("bernoulli is seed-deterministic") {
    val a = Sampler.bernoulli(li, 0.05, 9L).count()
    val b = Sampler.bernoulli(li, 0.05, 9L).count()
    assert(a === b)
  }

  test("stratifiedExact: exactly floor(stratumCount*ratio) rows per stratum") {
    val perStratum = li.groupBy($"l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = Sampler.stratifiedExact(li, "l_returnflag", 0.1, 42L)
      .groupBy($"l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    perStratum.foreach { case (k, n) =>
      assert(got.getOrElse(k, 0L) === (n * 0.1).toLong, s"stratum $k")
    }
    assert(Sampler.stratifiedExact(li, "l_returnflag", 0.1, 42L).schema === li.schema)
  }

  test("stratifiedExact: NULL stratum is sampled like any other stratum") {
    val withNulls = li.withColumn("stratum",
      when($"l_linenumber" <= 2, $"l_returnflag")) // ~null for linenumber > 2
    val nullCount = withNulls.filter($"stratum".isNull).count()
    assert(nullCount > 0)
    val got = Sampler.stratifiedExact(withNulls, "stratum", 0.1, 42L)
    assert(got.filter($"stratum".isNull).count() === (nullCount * 0.1).toLong)
  }

  test("stratifiedExactByRank: per-stratum floor cardinality, md5-smallest rows win, layout-independent") {
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem;
    // a unique rank key keeps the selection fully determined (tied ranks
    // would make the picked tie member layout-dependent)
    def uniqueRank = Sampler.hexRank("42", col("l_orderkey"), col("l_linenumber"),
      col("l_partkey"), col("l_suppkey"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate").cast("date"))
    val rank = uniqueRank
    val got = Sampler.stratifiedExactByRank(li, "l_returnflag", 0.1, rank)
    val perStratum = li.groupBy($"l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotSizes = got.groupBy($"l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    perStratum.foreach { case (k, n) =>
      assert(gotSizes.getOrElse(k, 0L) === (n * 0.1).toLong, s"stratum $k")
    }
    assert(got.schema === li.schema)
    // selected = the per-stratum md5-smallest prefix, stable under repartition
    def keys(d: org.apache.spark.sql.DataFrame) =
      Sampler.stratifiedExactByRank(d, "l_returnflag", 0.1, uniqueRank)
        .select($"l_orderkey", $"l_linenumber").as[(Long, Long)].collect().sorted.toSeq
    assert(keys(li) === keys(li.repartition(13, $"l_partkey")))
  }

  test("hexRank: NULL key components null-propagate (no silent collisions) and match SQL ||") {
    val df = Seq((Some(1L), Some(2L)), (Some(1L), None), (None, Some(2L)))
      .toDF("a", "b")
      .select(Sampler.hexRank("s", col("a"), col("b")).as("r"),
        md5(concat(lit("s"), lit(":"), col("a").cast("string"),
          lit(":"), col("b").cast("string")).cast("binary")).as("want"))
      .collect()
    df.foreach(r => assert(r.isNullAt(0) === r.isNullAt(1)))
    // non-null row equals the plain concat form; NULL-key rows yield NULL
    // rank instead of colliding with shorter keys (concat_ws would skip)
    assert(df.count(_.isNullAt(0)) === 2)
    assert(df.filter(r => !r.isNullAt(0)).forall(r => r.getString(0) == r.getString(1)))
  }

  test("stratified (Bernoulli): only listed strata survive; seeded") {
    val s1 = Sampler.stratified(li, "l_returnflag", Map[Any, Double]("A" -> 0.2, "R" -> 0.1), 5L)
    assert(s1.select($"l_returnflag").distinct().as[String].collect().toSet.subsetOf(Set("A", "R")))
    assert(s1.count() === Sampler.stratified(li, "l_returnflag", Map[Any, Double]("A" -> 0.2, "R" -> 0.1), 5L).count())
  }

  test("uniformity: chi-square over 10 position buckets within 4 sigma") {
    // sample 10% by positional rank; bucket source rows into deciles by
    // l_orderkey order; expect roughly equal pick counts per decile
    val s = Sampler.exactFromParquet(spark, s"$sf0001/lineitem.parquet", 0.1, 3L)
    val n = s.count().toDouble
    val buckets = s.select(ntile(10).over(
      org.apache.spark.sql.expressions.Window.orderBy($"l_orderkey", $"l_linenumber")).as("b"))
      .groupBy($"b").count().collect().map(_.getLong(1).toDouble)
    val exp = n / 10.0
    val chi2 = buckets.map(o => (o - exp) * (o - exp) / exp).sum
    // df=9; mean 9, sd ~4.24; 4 sigma ~ 26 — generous but catches gross bias
    assert(chi2 < 26.0, s"chi2=$chi2 buckets=${buckets.mkString(",")}")
  }

  test("systematicByHexRank: exact 1-in-k coverage, layout independence, step=1") {
    import org.apache.spark.sql.functions.{col, concat, lit, md5}
    val df = (1L to 1000L).toDF("id")
    val rank = md5(concat(lit("s:"), col("id").cast("string")).cast("binary"))
    val got = Sampler.systematicByHexRank(df, step = 7, rank)
      .collect().map(_.getLong(0)).toSet
    // ranks 1, 8, 15, ... -> ceil(1000/7) survivors
    assert(got.size === 143)
    // deterministic under any physical layout
    val got2 = Sampler.systematicByHexRank(df.repartition(13), step = 7, rank)
      .collect().map(_.getLong(0)).toSet
    assert(got2 === got)
    // the survivor set is the k-th-rank slice of the md5 order, exactly
    val ordered = (1L to 1000L).sortBy(id =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"s:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString)
    assert(got === ordered.zipWithIndex.collect {
      case (id, i) if i % 7 == 0 => id
    }.toSet)
    assert(Sampler.systematicByHexRank(df, step = 1, rank).count() === 1000L)
    intercept[IllegalArgumentException] {
      Sampler.systematicByHexRank(df, step = 0, rank)
    }
  }
}
