package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.ParquetIO
import graft.operators.{RelCheck, Sampler, SemiJoinReducer}

/** aqp_prep: the reference pipeline. Each round samples the fact and the
  * attribute table exactly, reduces orders and part against the fact
  * sample and customer against the reduced orders, writes every result,
  * then answers two approximate queries from the prepared files. */
final class Aqp(val scale: AqpScale) extends Workload {
  val ratio = 0.001
  private var last = ""
  def cycleSeconds: Double = 3.5
  def maxRounds: Int = Int.MaxValue
  /** After one cycle the first timed cycle still ran 10-20% slower than
    * the next two. */
  override def warmupCycles: Int = 2

  def setup(run: Run): Unit = new Gen(run.spark, run.seed).aqp(run.path("in"), scale)

  /** The sink every step ends in; Sampler's lazy rank-select runs here. */
  private def sink(run: Run, df: DataFrame, out: String): Unit =
    run.trace.span("ParquetIO.write")(ParquetIO.write(df, out))

  /** Traced runs only, after the operation: what its sink wrote. */
  private def noteSink(run: Run, out: String): Unit =
    if (run.trace.on) {
      val files = Files.listing(out).filter(_._1.endsWith(".parquet"))
      val n = ParquetIO.rowCount(run.spark, out)
      run.trace.annotate("ParquetIO.write", "files" -> files.size.toDouble,
        "bytes_per_row" -> files.values.sum.toDouble / math.max(n, 1L), "rows" -> n.toDouble)
    }

  /** An output read back for a check, with the schema of the input table
    * it came from, so the check runs no schema inference job. */
  private def written(run: Run, path: String): DataFrame =
    run.spark.read.schema(run.input(new java.io.File(path).getName).schema).parquet(path)

  private def countIs(run: Run, what: String, out: String, want: Long): Unit =
    run.expect(s"$what row count", want, ParquetIO.rowCount(run.spark, out))

  def round(run: Run, i: Int): Unit = {
    val spark = run.spark
    val s = run.seed * 100000L + i
    val out = run.path(s"out/$i")
    def o(t: String) = s"$out/$t"
    def reduceOp(kind: String, dimT: String, dimCol: String, factPath: String, factCol: String): Unit = {
      val dim = run.input(dimT)
      run.op(kind, "refresh") {
        val fact = ParquetIO.read(spark, factPath)
        val red = run.trace.span("SemiJoinReducer.reduce")(
          SemiJoinReducer.reduce(dim, dimCol, fact, factCol))
        sink(run, red, o(dimT))
      } { _ =>
        // independent formulation: inner join on the distinct fact keys
        val keys = written(run, factPath).select(col(factCol).as("__k")).distinct()
        val want = dim.join(keys, dim(dimCol) === keys("__k"), "inner").select(dim.columns.map(dim(_)): _*)
        if (!RelCheck.multisetEquals(written(run, o(dimT)), want))
          throw new WrongAnswer(s"$kind differs from the join")
        countIs(run, kind, o(dimT), want.count())
      }
      noteSink(run, o(dimT))
    }

    run.op("sample_fact", "write") {
      val df = run.trace.span("Sampler.exactFromParquet")(
        Sampler.exactFromParquet(spark, run.path("in/lineitem"), ratio, s))
      sink(run, df, o("lineitem"))
    } { _ => countIs(run, "fact sample", o("lineitem"), (scale.fact * ratio).toLong) }
    noteSink(run, o("lineitem"))
    val events = run.input("events")
    run.op("sample_attrib", "write") {
      val df = run.trace.span("Sampler.exact")(Sampler.exact(events, ratio, s))
      sink(run, df, o("events"))
    } { _ => countIs(run, "attribute sample", o("events"), (scale.events * ratio).toLong) }
    noteSink(run, o("events"))
    reduceOp("reduce_orders", "orders", "o_orderkey", o("lineitem"), "l_orderkey")
    reduceOp("reduce_part", "part", "p_partkey", o("lineitem"), "l_partkey")
    reduceOp("reduce_customer", "customer", "c_custkey", o("orders"), "o_custkey")

    // approximate answers from the prepared files: every sampled fact row
    // must find its reduced dimension rows (the join-consistency the
    // reduction exists to keep)
    val sampled = (scale.fact * ratio).toLong
    def query(kind: String, body: DataFrame => DataFrame): Unit =
      run.op(kind, "read") {
        body(ParquetIO.read(spark, o("lineitem")))
          .agg(count(lit(1)), sum(col("l_extendedprice"))).head().getLong(0)
      } { n => run.expect(s"$kind joined rows", sampled, n) }
    query("query_segment", _.join(ParquetIO.read(spark, o("orders")), col("l_orderkey") === col("o_orderkey"))
      .join(ParquetIO.read(spark, o("customer")), col("o_custkey") === col("c_custkey")))
    query("query_brand", _.join(ParquetIO.read(spark, o("part")), col("l_partkey") === col("p_partkey")))

    if (last.nonEmpty) Files.delete(new java.io.File(last))
    last = out
  }

  def storage(run: Run): (Long, Long) = {
    val tables = Seq("lineitem", "events", "orders", "part", "customer").map(t => s"$last/$t")
    (tables.map(Files.bytes).sum, tables.map(t => UserBytes.of(ParquetIO.read(run.spark, t))).sum)
  }
}

/** Logical size of a relation's rows: fixed widths for numbers and dates,
  * UTF-8 length for strings, element widths for arrays. */
object UserBytes {
  import org.apache.spark.sql.types._
  def of(df: DataFrame): Long = {
    val widths = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      val w = f.dataType match {
        case StringType => coalesce(octet_length(c), lit(0))
        case ArrayType(FloatType | IntegerType, _) => coalesce(size(c), lit(0)) * 4
        case ArrayType(_, _) => coalesce(size(c), lit(0)) * 8
        case BinaryType => coalesce(length(c), lit(0))
        case IntegerType | FloatType | DateType => lit(4)
        case BooleanType | ByteType => lit(1)
        case _ => lit(8)
      }
      w.cast("long")
    }
    val r = df.select(widths.reduce(_ + _).as("w")).agg(sum(col("w"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }
}
