package graft

import org.apache.spark.sql.functions._

/** Invariants of the int8 quantizer and the temperature sampler that
  * the DuckDB hash oracle cannot see (it proves engine-equality, not
  * correctness of the construction itself). */
class LlmQuantizeSpec extends SparkTestBase {

  test("int8 quantize: per-component error ≤ scale/2, saturation hits") {
    // recon_err sums (127·m − qc·scale)² over 64 components; round-
    // half-up guarantees each |127·m − qc·scale| ≤ scale/2 + 1 (the
    // +1 absorbs the integer-DIV half-tie), so the vector total is
    // bounded by 64·(scale/2 + 1)². The max-|m| component quantizes
    // to exactly ±127 by construction, so every vector saturates at
    // least once.
    val r = operators.LlmQuantize.llmEmbQuantize(spark, sf)
      .withColumn("bound",
        lit(64L) * (col("scale") / 2 + 1) * (col("scale") / 2 + 1))
    assert(r.filter(col("recon_err") > col("bound")).count() == 0)
    assert(r.filter(col("n_saturated") < 1).count() == 0)
    // codes are genuinely 8-bit: a saturated component at pos p
    // contributes ±127·(p+1); the checksum can never exceed the
    // all-saturated bound Σ 127·(p+1)
    val maxCk = 127L * (1 to 64).map(_.toLong).sum
    assert(r.filter(abs(col("code_checksum")) > maxCk).count() == 0)
  }

  test("temperature sampling: exact allotments, √-flattening, invariance") {
    val r = operators.LlmQuantize.llmSampleTemperature(spark, sfData)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2),
        x.getLong(3)))
    // the window rank fills every allotment exactly — never over,
    // never under (allot ≤ c_total by construction)
    assert(r.forall { case (_, c, a, kept) => kept == a && a <= c })
    // √-flattening: keep RATE is non-increasing in stratum size
    // among cut strata (allot < c_total) — the point of temperature
    // sampling; equal-size strata tie
    val cut = r.filter { case (_, c, a, _) => a < c }
      .sortBy(_._2).map { case (_, c, a, _) => a.toDouble / c }
    assert(cut.zip(cut.drop(1)).forall { case (hi, lo) => lo <= hi + 1e-12 })
    // at least one stratum is cut and at least one survives intact at
    // this sf — otherwise the key exercises nothing
    assert(cut.nonEmpty && r.exists { case (_, c, a, _) => a == c })
  }

  test("both keys are invariant under input partitioning") {
    for (key <- Seq("llm_emb_quantize", "llm_sample_temperature")) {
      val fn = SparkEntry.queries(key)
      val base = fn(spark, sf).collect().map(_.toString).sorted
      for (n <- Seq(1, 5))
        GraftSession.withConfs(spark, Map("spark.sql.shuffle.partitions" -> n.toString)) {
          val r = fn(spark, sf).collect().map(_.toString).sorted
          assert(r.sameElements(base), s"$key drifts at $n partitions")
        }
    }
  }
}
