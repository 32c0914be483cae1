package graft

import org.apache.spark.sql.functions._

/** `agg_approx_quantile`: percentile_approx's Greenwald–Khanna rank
  * guarantee — each approximate quartile's true rank is within
  * n/accuracy of the target rank. The operator now carries that
  * check as its oracle'd `rank_ok` column (r9: the sketch VALUE is
  * engine-specific, the CONTRACT is not); this spec re-derives the
  * bound independently so a broken in-operator check can't
  * self-certify. Also pins the scalar one-row-per-quantile output
  * shape (the result canonicalizer can't sort array cells). */
class ApproxQuantileSpec extends SparkTestBase {

  test("operator output: rank_ok true everywhere, quartile rows in order") {
    val rows = operators.Relational.aggApproxQuantile(spark, sf).collect()
    assert(rows.length == 3)
    assert(rows.map(_.getDouble(0)).toSeq == Seq(0.25, 0.5, 0.75))
    rows.foreach(r => assert(r.getAs[Boolean]("rank_ok"),
      s"GK rank contract violated at q=${r.getDouble(0)}"))
  }

  test("independent re-derivation: approximate quartiles honor the GK rank-error bound") {
    val li = Tables.lineitem(spark, sf)
    val approx = li
      .agg(expr("percentile_approx(l_extendedprice, array(0.25, 0.5, 0.75), 10000)"))
      .head().getSeq[Double](0)
    val prices = li.select("l_extendedprice").collect().map(_.getDouble(0)).sorted
    val n = prices.length.toLong
    val tol = math.ceil(n / 10000.0).toLong // rank error <= n/accuracy
    Seq(0.25, 0.5, 0.75).zip(approx).foreach { case (q, a) =>
      val rank = prices.count(_ <= a).toLong
      val target = (q * n).toLong
      assert(math.abs(rank - target) <= tol + 1,
        s"q=$q approx=$a rank=$rank target=$target tol=$tol")
    }
  }

  test("exact quantile column matches the sorted-data interpolation") {
    val rows = operators.Relational.aggApproxQuantile(spark, sf).collect()
    val prices = Tables.lineitem(spark, sf)
      .select("l_extendedprice").collect().map(_.getDouble(0)).sorted
    rows.foreach { r =>
      val q = r.getDouble(0)
      val exact = r.getAs[Double]("exact_q")
      val pos = q * (prices.length - 1)
      val lo = prices(pos.toInt)
      val hi = prices(math.min(pos.toInt + 1, prices.length - 1))
      val want = lo + (pos - pos.toInt) * (hi - lo)
      assert(math.abs(exact - want) < 1e-4, s"q=$q exact=$exact want=$want")
    }
  }
}
