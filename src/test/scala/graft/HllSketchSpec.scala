package graft

import org.apache.spark.sql.functions._

/** `agg_hll_sketch` (DataSketches HLL): the merge property that makes
  * sketches the 100 TB distinct-count answer — unioning per-day
  * sketches estimates the same cardinality one whole-data pass does,
  * WITHIN the error bound (bit-equality is not guaranteed once
  * sketches densify) — plus the error contract vs the exact count.
  * The operator carries the two error bounds as its oracle'd contract
  * booleans (r9); this spec re-derives them from raw hll_* calls so a
  * broken in-operator check can't self-certify. */
class HllSketchSpec extends SparkTestBase {

  test("operator output: contract booleans true, exact count positive") {
    val row = operators.Relational.aggHllSketch(spark, sf).collect().head
    assert(row.getAs[Long]("exact_users") > 0)
    assert(row.getAs[Boolean]("direct_err_ok"), "direct HLL estimate off exact by >10%")
    assert(row.getAs[Boolean]("merged_err_ok"), "unioned HLL estimate off exact by >10%")
  }

  test("independent re-derivation: union and direct estimates both within 5% of exact") {
    val e = Tables.events(spark, sf)
    val merged = e.groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))))
      .head().getLong(0)
    val Array(direct, exact) = e
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))),
        countDistinct(col("user_id")))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    // merged == direct happens to hold here (sparse-mode
    // cardinalities) but is NOT a DataSketches guarantee — the r9
    // sf0.1 gate caught the union gadget estimating differently once
    // per-day sketches densify, and the operator contract was
    // deliberately reduced to the per-estimate error bound. So this
    // is INFORMATIONAL only (a regenerated or larger fixture may
    // legitimately flip it); the hard assertions are the error bounds
    // below, which ARE the contract.
    if (merged != direct)
      info(s"sparse-mode union not bit-equal at this sf (allowed by " +
        s"contract): merged=$merged direct=$direct")
    assert(math.abs(direct - exact.toDouble) / exact < 0.05,
      s"direct HLL estimate $direct off exact $exact by >5%")
    assert(math.abs(merged - exact.toDouble) / exact < 0.05,
      s"unioned HLL estimate $merged off exact $exact by >5%")
  }
}
