package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every value is a hash of (seed, row id, salt),
  * so the same seed writes the same rows in the same files however many
  * cores run it. Plain Spark only: the layers under test never see how
  * their inputs were made, only the parquet files written here. */
final class Gen(spark: SparkSession, seed: Long) {
  /** Fixed so file contents do not depend on the machine. */
  val parts = 4

  def h(salt: Int, keys: String*): String = s"xxhash64(${seed}L, ${keys.mkString(", ")}, $salt)"
  /** Uniform integer in [0, m). */
  def u(m: Long, salt: Int, keys: String*): String = s"pmod(${h(salt, keys: _*)}, ${m}L)"

  def range(n: Long): DataFrame = spark.range(0L, n, 1L, parts).toDF()

  def write(df: DataFrame, path: String): String = {
    df.write.mode("overwrite").parquet(path)
    path
  }

  // ---- aqp_prep: a lineitem-shaped star schema --------------------------

  def aqp(dir: String, s: AqpScale): Seq[(String, String)] = {
    val li = range(s.fact).selectExpr(
      s"${u(s.orders, 1, "id")} + 1 AS l_orderkey",
      s"${u(s.parts, 2, "id")} + 1 AS l_partkey",
      s"${u(1000, 3, "id")} + 1 AS l_suppkey",
      s"CAST(${u(7, 4, "id")} + 1 AS INT) AS l_linenumber",
      s"CAST(${u(50, 5, "id")} + 1 AS DOUBLE) AS l_quantity",
      s"${u(10000000, 6, "id")} / 100.0D AS l_extendedprice",
      s"${u(11, 7, "id")} / 100.0D AS l_discount",
      s"${u(9, 8, "id")} / 100.0D AS l_tax",
      s"element_at(array('A', 'N', 'R'), CAST(${u(3, 9, "id")} + 1 AS INT)) AS l_returnflag",
      s"date_add(DATE'1992-01-01', CAST(${u(2500, 10, "id")} AS INT)) AS l_shipdate",
      s"concat('c', hex(${h(11, "id")})) AS l_comment")
    val orders = range(s.orders).selectExpr(
      "id + 1 AS o_orderkey",
      s"${u(s.customers, 21, "id")} + 1 AS o_custkey",
      s"element_at(array('F', 'O', 'P'), CAST(${u(3, 22, "id")} + 1 AS INT)) AS o_orderstatus",
      s"${u(50000000, 23, "id")} / 100.0D AS o_totalprice",
      s"date_add(DATE'1992-01-01', CAST(${u(2400, 24, "id")} AS INT)) AS o_orderdate",
      s"concat(CAST(${u(5, 25, "id")} + 1 AS STRING), '-PRIO') AS o_orderpriority",
      s"concat('o', hex(${h(26, "id")})) AS o_comment")
    val part = range(s.parts).selectExpr(
      "id + 1 AS p_partkey",
      s"concat('part ', hex(${h(31, "id")})) AS p_name",
      s"concat('Brand#', CAST(${u(25, 32, "id")} + 11 AS STRING)) AS p_brand",
      s"CAST(${u(50, 33, "id")} + 1 AS INT) AS p_size",
      s"${u(200000, 34, "id")} / 100.0D AS p_retailprice")
    val customer = range(s.customers).selectExpr(
      "id + 1 AS c_custkey",
      "concat('Customer#', CAST(id + 1 AS STRING)) AS c_name",
      s"CAST(${u(25, 41, "id")} AS INT) AS c_nationkey",
      s"${u(1100000, 42, "id")} / 100.0D - 1000.0D AS c_acctbal",
      s"element_at(array('AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'), " +
        s"CAST(${u(5, 43, "id")} + 1 AS INT)) AS c_mktsegment")
    val events = range(s.events).selectExpr(
      "id AS ev_id",
      s"${u(100000, 51, "id")} AS ev_user",
      s"element_at(array('view', 'click', 'cart', 'buy', 'return', 'rate', 'share', 'exit'), " +
        s"CAST(${u(8, 52, "id")} + 1 AS INT)) AS ev_type",
      s"1700000000000000000L + ${u(86400000000000L, 53, "id")} AS ts",
      s"${u(100000, 54, "id")} / 1000.0D AS ev_value")
    Seq("lineitem" -> li, "orders" -> orders, "part" -> part, "customer" -> customer,
      "events" -> events).map { case (n, df) => n -> write(df, s"$dir/$n") }
  }

  // ---- txlog_churn: an orders-like table and its change batches ---------

  /** Key classes keep the batches consistent without simulating the run:
    * class U keys are only ever updated, class D keys are deleted once,
    * class C keys feed CDC updates and deletes, each used once; appended
    * and CDC-inserted keys come from ranges no other batch touches. */
  private def keyClass(key: String): String = u(10, 61, key)

  /** `alt` draws the values from other salts: a second, different change
    * row for the same key and version. */
  private def orderCols(key: String, ver: String, alt: Int = 0): Seq[String] = Seq(
    s"$key AS o_orderkey",
    s"${u(150000, 62 + alt, key, ver)} + 1 AS o_custkey",
    s"element_at(array('F', 'O', 'P'), CAST(${u(3, 63, key, ver)} + 1 AS INT)) AS o_status",
    s"${u(50000000, 64 + alt, key, ver)} AS o_cents",
    s"CAST(${u(2400, 65, key)} AS INT) AS o_date",
    s"concat('o', hex(${h(66, key, ver)})) AS o_comment",
    s"$ver AS o_seq")

  /** Keys of the given classes, spread by hash over batches of about
    * `size` keys each; every key falls in exactly one batch. */
  private def slices(n: Long, cls: Seq[Int], size: Long): DataFrame = {
    val batches = math.max(n * cls.size / 10 / size, 1L)
    range(n).selectExpr("id + 1 AS k", s"${keyClass("id + 1")} AS __c", s"${u(batches, 67, "id + 1")} AS b")
      .filter(col("__c").isin(cls: _*) && col("b") < TxScale.maxBatches)
      .select(col("k"), col("b"))
  }

  def txlog(dir: String, s: TxScale): Seq[(String, String)] = {
    val init = range(s.rows).selectExpr("id + 1 AS k").selectExpr(orderCols("k", "0L"): _*)
    val appends = spark.range(0L, TxScale.maxBatches * s.append, 1L, parts)
      .selectExpr("id DIV " + s.append + " AS b", s"${s.rows}L + id + 1 AS k")
      .selectExpr(("b" +: orderCols("k", "0L")): _*)
    val upserts = slices(s.rows, 0 to 3, s.upsert)
      .selectExpr(("b" +: orderCols("k", "b + 1")): _*)
    val deletes = slices(s.rows, 4 to 6, s.delete).select(col("b"), col("k").as("o_orderkey"))
    // CDC batch b: updates of one half of a class-C slice (a quarter of
    // them twice, tied on the order key), deletes of the other half, fresh
    // inserts (half of them updated again at a later sequence number)
    val c = slices(s.rows, 7 to 9, 2 * s.cdc).withColumn("__upd", expr(s"${u(2, 68, "k")} = 0"))
    val upd = c.filter(col("__upd"))
      .selectExpr(("'U' AS op" +: "b" +: orderCols("k", "1000000L + b")): _*)
    val tied = c.filter(col("__upd") && expr(s"${u(4, 69, "k")} = 0"))
      .selectExpr(("'U' AS op" +: "b" +: orderCols("k", "1000000L + b", alt = 100)): _*)
    val del = c.filter(!col("__upd"))
      .selectExpr(("'D' AS op" +: "b" +: orderCols("k", "1000000L + b")): _*)
    val insKeys = spark.range(0L, TxScale.maxBatches * s.cdc, 1L, parts)
      .selectExpr("id DIV " + s.cdc + " AS b", "1000000000L + id AS k")
    val ins = insKeys.selectExpr(("'I' AS op" +: "b" +: orderCols("k", "1000000L + b")): _*)
    val insUpd = insKeys.filter(col("k") % 2 === 0)
      .selectExpr(("'U' AS op" +: "b" +: orderCols("k", "2000000L + b")): _*)
    val cdc = Seq(upd, tied, del, ins, insUpd).reduce(_.unionByName(_))
    Seq("init" -> init, "appends" -> appends, "upserts" -> upserts, "deletes" -> deletes,
      "cdc" -> cdc).map { case (n, df) => n -> write(df, s"$dir/$n") }
  }

  // ---- index_follow: documents in near-duplicate families, with embeddings ----

  /** Unit vectors scattered around `clusters` centres: adds column `out`. */
  private def embedding(df: DataFrame, id: String, ver: String, out: String): DataFrame =
    df.withColumn("__raw", expr(s"transform(sequence(0, ${IxScale.dim - 1}), j -> " +
        s"(pmod(xxhash64(${seed}L, ${u(IxScale.clusters, 71, id)}, j, 72), 2001L) - 1000L) / 1000.0D + " +
        s"0.35D * (pmod(xxhash64(${seed}L, $id, $ver, j, 73), 2001L) - 1000L) / 1000.0D)"))
      .withColumn("__norm", expr("sqrt(aggregate(__raw, 0.0D, (a, y) -> a + y * y))"))
      .withColumn(out, expr("transform(__raw, x -> CAST(x / __norm AS FLOAT))"))
      .drop("__raw", "__norm")

  /** A document of family `fam`: the family's base text with one word
    * replaced, so members of a family are near duplicates. */
  private def text(id: String, fam: String, ver: String): String =
    s"concat_ws(' ', transform(sequence(0, ${IxScale.words - 1}), p -> " +
      s"IF(p = ${u(IxScale.words, 81, id, ver)}, " +
      s"concat('x', CAST(${u(5000, 82, id, ver)} AS STRING)), " +
      s"concat('w', CAST(pmod(xxhash64(${seed}L, $fam, p, 83), 5000L) AS STRING)))))"

  /** A document: its family's text with one word replaced, and an
    * embedding; `ver` re-draws both (a re-embedding update). */
  private def doc(df: DataFrame, ver: String): DataFrame =
    embedding(df.selectExpr(("*" +: Seq(
      s"${text("doc_id", s"doc_id DIV ${IxScale.family}", ver)} AS text",
      s"element_at(array('en', 'de', 'fr'), CAST(${u(3, 84, "doc_id")} + 1 AS INT)) AS lang")): _*),
      "doc_id", ver, "embedding")

  /** Ids of the initial corpus in class `cls` of four (upserted, erased by
    * key, changed by CDC, deleted by predicate), in hash order, cut into
    * batches of exactly `size`: every id falls in one class and at most
    * one batch, and no batch a run uses is empty. */
  private def idSlices(n: Long, cls: Int, size: Long): DataFrame =
    range(n).selectExpr("id AS doc_id", s"${u(4, 91, "id")} AS __c", s"${h(92, "id")} AS __o")
      .filter(col("__c") === cls)
      .selectExpr(s"(row_number() OVER (ORDER BY __o, doc_id) - 1) DIV $size AS b", "doc_id")
      .filter(col("b") < IxScale.maxBatches)

  def index(dir: String, s: IxScale): Seq[(String, String)] = {
    val init = doc(range(s.docs).withColumnRenamed("id", "doc_id"), "0L")
    val ins = doc(spark.range(0L, IxScale.maxBatches * s.batch, 1L, parts)
      .selectExpr(s"id DIV ${s.batch} AS b", s"${s.docs}L + id AS doc_id"), "0L")
    val upd = doc(idSlices(s.docs, 0, s.batch), "b + 1")
    val del = idSlices(s.docs, 1, s.batch / 2)
    // CDC batch b: re-embeddings of two thirds of a slice (a quarter of
    // them twice, tied on the sequence number), deletes of the rest, and
    // fresh documents from an id range nothing else uses
    val c = idSlices(s.docs, 2, s.batch / 2).withColumn("__upd", expr(s"${u(3, 96, "doc_id")} < 2"))
    def change(df: DataFrame, op: String, ver: String): DataFrame =
      doc(df, ver).selectExpr("*", s"'$op' AS op", "b AS seq")
    val cdc = Seq(
      change(c.filter(col("__upd")).drop("__upd"), "U", "1000L + b"),
      change(c.filter(col("__upd") && expr(s"${u(4, 97, "doc_id")} = 0")).drop("__upd"), "U", "2000L + b"),
      change(c.filter(!col("__upd")).drop("__upd"), "D", "1000L + b"),
      change(spark.range(0L, IxScale.maxBatches * s.batch / 3, 1L, parts)
        .selectExpr(s"id DIV ${s.batch / 3} AS b", "1000000L + id AS doc_id"), "I", "0L")
    ).reduce(_.unionByName(_))
    val drop = idSlices(s.docs, 3, s.batch / 6)
    // queries: fresh vectors, and fresh members of initial families
    val queries = embedding(range(IxScale.queries).selectExpr("id + 1000000000L AS qid",
        s"${u(s.docs / IxScale.family, 93, "id")} AS fam"), "qid", "-1L", "qvec")
      .selectExpr("qid", "qvec", "fam", s"${text("qid", "fam", "-1L")} AS text")
    Seq("doc_init" -> init, "doc_ins" -> ins, "doc_upd" -> upd, "doc_del" -> del, "doc_cdc" -> cdc,
      "doc_drop" -> drop, "queries" -> queries).map { case (n, df) => n -> write(df, s"$dir/$n") }
  }
}

final case class AqpScale(fact: Long, orders: Long, parts: Long, customers: Long, events: Long)
final case class TxScale(rows: Long, append: Long, upsert: Long, delete: Long, cdc: Long)
object TxScale { val maxBatches = 64L }
final case class IxScale(docs: Long, batch: Long)
object IxScale {
  val maxBatches = 10L
  val dim = 64
  val clusters = 32L
  val words = 50
  val family = 5L
  val queries = 8L
}
