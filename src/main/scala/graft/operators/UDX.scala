package graft.operators

import graft.{KeySpec, QFn, Tables}
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** UDF / UDAF surface (SURVEY.md §2.10).
  *
  * `udf_scalar` deliberately computes the same quantity twice — once as
  * a Scala UDF (opaque to Catalyst: no pushdown through it, no codegen
  * fusion) and once as a native Column expression — so the spec can
  * assert equality and the bench can show why native expressions win.
  * Both are IEEE-double per row, so results are bit-identical.
  *
  * `agg_udaf_wmid` is a typed `Aggregator`: size-weighted mean price
  * (the weighted-midpoint shape of a bid/ask pipeline). The buffer
  * keeps exact BigDecimal sums — mergeable across any number of
  * executors without float drift, which is what makes a custom UDAF
  * safe at 1000-executor scale.
  */
object UDX {

  /** Weighted-mean aggregator: IN = (price, qty); BUF = exact decimal
    * (sum(price*qty), sum(qty)); OUT = double ratio. */
  class WeightedMid extends Aggregator[(Double, Double), (BigDecimal, BigDecimal), Double] {
    def zero: (BigDecimal, BigDecimal) = (BigDecimal(0), BigDecimal(0))
    def reduce(b: (BigDecimal, BigDecimal), a: (Double, Double)): (BigDecimal, BigDecimal) = {
      // inputs carry ≤2 decimals; BigDecimal(toString) is exact for them
      val p = BigDecimal(a._1.toString); val q = BigDecimal(a._2.toString)
      (b._1 + p * q, b._2 + q)
    }
    def merge(x: (BigDecimal, BigDecimal), y: (BigDecimal, BigDecimal)): (BigDecimal, BigDecimal) =
      (x._1 + y._1, x._2 + y._2)
    def finish(b: (BigDecimal, BigDecimal)): Double =
      if (b._2 == BigDecimal(0)) 0.0 else b._1.toDouble / b._2.toDouble
    def bufferEncoder: Encoder[(BigDecimal, BigDecimal)] =
      Encoders.product[(BigDecimal, BigDecimal)]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Scala scalar UDF vs the identical native expression. */
  val udfScalar: QFn = (s, d) => {
    val midpointUdf = udf((hi: Double, lo: Double) => (hi + lo) / 2.0)
    val relSpreadUdf = udf((hi: Double, lo: Double) =>
      if (hi + lo == 0.0) 0.0 else (hi - lo) / ((hi + lo) / 2.0))
    Tables.part(s, d).select(
      col("p_partkey"),
      midpointUdf(col("p_retailprice"), lit(900.0)).as("mid_udf"),
      ((col("p_retailprice") + 900.0) / 2.0).as("mid_native"),
      relSpreadUdf(col("p_retailprice"), lit(900.0)).as("spread_udf"),
      ((col("p_retailprice") - 900.0) / ((col("p_retailprice") + 900.0) / 2.0)).as("spread_native"))
      .orderBy("p_partkey")
  }

  /** Typed-Aggregator weighted mean per returnflag, next to its
    * two-sums formulation (the spec asserts they agree). */
  val aggUdafWmid: QFn = (s, d) => {
    import s.implicits._
    val wmid = udaf(new WeightedMid())
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        wmid(col("l_extendedprice"), col("l_quantity")).as("wmid"),
        (sum((col("l_extendedprice").cast("decimal(30,2)") *
              col("l_quantity").cast("decimal(30,2)"))).cast("double") /
         sum(col("l_quantity").cast("decimal(30,2)")).cast("double")).as("wmid_sums"))
      .orderBy("l_returnflag")
  }

  /** Custom Catalyst expression (fused relative spread) exercised both
    * through the Column API and through SQL after FunctionRegistry
    * registration — next to the equivalent composed expression. */
  val exprCustom: QFn = (s, d) => {
    graft.functions.GraftExtensions.install(s)
    val bid = col("p_retailprice") - 5.0
    val ask = col("p_retailprice") + 5.0
    Tables.part(s, d)
      .select(col("p_partkey"), bid.as("bid"), ask.as("ask"), col("p_retailprice"))
      .select(
        col("p_partkey"),
        graft.functions.GraftFunctions.fusedSpread(col("bid"), col("ask")).as("spread_native"),
        expr("fused_spread(bid, ask)").as("spread_sql"),
        ((col("ask") - col("bid")) / ((col("ask") + col("bid")) / 2.0)).as("spread_composed"))
      .orderBy("p_partkey")
  }

  /** Native `TypedImperativeAggregate` sketch (Misra–Gries heavy
    * hitters, functions/HeavyHitters.scala): bounded-memory frequency
    * summary with serialized partials and tree-mergeable combine.
    * Capacity 16 > the 5 distinct order priorities, so every count is exact
    * and the exploded summary hash-matches a plain DuckDB group count;
    * the approximate small-k regime is spec-validated instead
    * (HeavyHittersSpec). */
  val aggHeavyHitters: QFn = (s, d) => {
    val summary = graft.functions.MisraGries
      .misraGries(col("o_orderpriority"), 16).as("hh")
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(summary)
      .select(col("o_orderstatus"), explode(col("hh")).as("e"))
      .select(col("o_orderstatus"), col("e.item").as("item"), col("e.cnt").as("cnt"))
      .orderBy("o_orderstatus", "item")
  }

  val specs: Seq[KeySpec] = Seq(
    KeySpec.batch("udf_scalar", udfScalar, shuffles = 1,
      """SELECT p_partkey,
           (p_retailprice + 900.0) / 2.0 AS mid_udf,
           (p_retailprice + 900.0) / 2.0 AS mid_native,
           (p_retailprice - 900.0) / ((p_retailprice + 900.0) / 2.0) AS spread_udf,
           (p_retailprice - 900.0) / ((p_retailprice + 900.0) / 2.0) AS spread_native
         FROM part ORDER BY p_partkey"""),
    KeySpec.batch("agg_udaf_wmid", aggUdafWmid, shuffles = 2,
      """SELECT l_returnflag,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2)) * CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE)
             / CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS wmid,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2)) * CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE)
             / CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS wmid_sums
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    KeySpec.batch("agg_heavy_hitters", aggHeavyHitters, shuffles = 2,
      """SELECT o_orderstatus, o_orderpriority AS item, count(*) AS cnt
         FROM orders GROUP BY o_orderstatus, o_orderpriority
         ORDER BY o_orderstatus, item"""),
    KeySpec.batch("expr_custom", exprCustom, shuffles = 1,
      """SELECT p_partkey,
           ((p_retailprice + 5.0) - (p_retailprice - 5.0))
             / (((p_retailprice + 5.0) + (p_retailprice - 5.0)) / 2.0) AS spread_native,
           ((p_retailprice + 5.0) - (p_retailprice - 5.0))
             / (((p_retailprice + 5.0) + (p_retailprice - 5.0)) / 2.0) AS spread_sql,
           ((p_retailprice + 5.0) - (p_retailprice - 5.0))
             / (((p_retailprice + 5.0) + (p_retailprice - 5.0)) / 2.0) AS spread_composed
         FROM part ORDER BY p_partkey"""))
}
