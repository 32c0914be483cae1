package graft

import org.apache.spark.sql.DataFrame

/** Plan contracts for the heaviest keys (r3 verdict items 3+4): the
  * physical-plan properties each one's 100 TB story depends on are
  * asserted here, so a plan regression fails `sbt test` instead of
  * surfacing as bench drift a round later. Broadcast/bucketing/DPP/
  * pushdown contracts for the relational keys live in RelationalSpec
  * and ExtensionSpec; this spec covers the LLM-pipeline keys plus the
  * whole-registry PlanAudit sweep. */
class PlanContractSpec extends SparkTestBase {

  private def executed(df: DataFrame): String = {
    df.collect()
    // AQE plan strings append the pre-adaptive "== Initial Plan ==";
    // contracts are about what actually ran, so keep the final section
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("PlanAudit is clean over the whole registry (no cartesians, no BNLJ, codegen present)") {
    val findings = PlanAudit.audit(spark, sf)
    assert(findings.isEmpty, findings.mkString("\n"))
  }

  test("llm_ngram_jaccard: prefix-filtered index join stays an equi-join, never all-pairs") {
    val p = executed(operators.LlmSimilarity.llmNgramJaccard(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation degenerated to all-pairs:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected a hash/merge equi-join:\n$p")
  }

  test("llm_near_dedup_exact: banded LSH candidates come from an equi-join on (band, sig)") {
    val p = executed(operators.LlmSimilarity.llmNearDedupExact(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"banding degenerated to all-pairs:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"expected the band-bucket equi-join:\n$p")
  }

  test("llm_hybrid_search: probe side is broadcast (corpus never shuffles for the join)") {
    val p = executed(operators.LlmSimilarity.llmHybridSearch(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast probes:\n$p")
  }

  test("llm_ngram_lm: ONE corpus pass — single documents scan, no join, windowed n1") {
    val df = operators.LlmText.llmNgramLm(spark, sf)
    val p = executed(df)
    // the r3 regression was a second tokenization feeding a join;
    // the one-pass form scans documents once and derives n1 by window
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected exactly one documents scan, got $scans:\n$p")
    assert(!p.contains("Join"), s"n1 must come from a window, not a join:\n$p")
    assert(p.contains("Window"), s"expected the n1 window:\n$p")
    assert(p.contains("bigram_pairs"), s"expected the native generator:\n$p")
  }

  test("join_skew_aqe: OptimizeSkewedJoin splits the hot partition at data scale") {
    // sf0.01 (not the smoke sf0.001): the skewed reducer partition must
    // exceed the key's 64KB detection threshold for the split to fire
    if (requireSf(sfData)) {
      val df = operators.Relational.joinSkewAqe(spark, sfData)
      assert(df.count() > 0)
      // the audit reads the captured live plan once, which releases it
      val captured = PlanAudit.constructionPlan("join_skew_aqe")
      assert(captured.isDefined)
      val p = captured.get.toString
      assert(p.contains("skew=true") || p.contains("skewed"),
        s"AQE did not split the skewed join partition:\n$p")
      assert(PlanAudit.constructionPlan("join_skew_aqe").isEmpty,
        "the captured plan stayed pinned after the audit read it")
      // a run that fails before capturing leaves no stale plan behind
      operators.Relational.joinSkewAqe(spark, sf)
      intercept[Exception](operators.Relational.joinSkewAqe(spark, s"$sf/absent"))
      assert(PlanAudit.constructionPlan("join_skew_aqe").isEmpty,
        "a failed run left the previous run's plan to be audited")
    }
  }

  test("join_skew_aqe: counts and the audit measure the captured plan alike, then release it") {
    val spec = SparkEntry.specs.find(_.name == "join_skew_aqe").get
    assert(PlanAudit.counts(spark, sf, Seq(spec)) == Seq("join_skew_aqe\t4\t4"))
    assert(PlanAudit.constructionPlan("join_skew_aqe").isEmpty,
      "counts left the captured plan pinned")
    // the audit grades the same 4 shuffles: one budget below fails it
    assert(PlanAudit.audit(spark, sf, Seq(spec.copy(shuffleBudget = Some(3)))) ==
      Seq("SMELL join_skew_aqe: shuffles 4 over budget 3"))
    assert(PlanAudit.constructionPlan("join_skew_aqe").isEmpty,
      "the audit left the captured plan pinned")
  }

  test("join_range_bucketed: bucket join is a shuffled merge, never a broadcast build") {
    // r5 knob matrix: the size estimator prices the exploded-distinct
    // orders side (2×|orders| rows) below the broadcast threshold and
    // builds a BroadcastHashJoin on it — un-broadcastable at scale.
    // The explicit merge hint pins the shuffled plan; this contract
    // keeps it pinned.
    val p = executed(operators.Relational.joinRangeBucketed(spark, sf))
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastExchange"),
      s"bucket join reverted to a broadcast build side:\n$p")
    assert(p.contains("SortMergeJoin"),
      s"expected the hinted shuffled merge join:\n$p")
  }

  test("llm_exact_dedup: one shuffle-exchange total (hash + row_number share it)") {
    val p = executed(operators.LlmText.llmExactDedup(spark, sf))
    val n = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(n <= 2, s"exact dedup grew extra shuffles ($n):\n$p")
    assert(!p.contains("CartesianProduct"), s"dedup must not cross:\n$p")
  }

  test("ts_rolling_beta: the market series joins by BROADCAST (no fact shuffle for the join)") {
    // the #bars-row index series must never force the symbol series
    // through a join exchange — that broadcast is the key's 100 TB story
    val p = executed(operators.TimeSeries.tsRollingBeta(spark, sf))
    assert(p.contains("BroadcastHashJoin"),
      s"market join lost its broadcast build side:\n$p")
  }

  test("llm_collocations: ONE corpus scan, no join — marginals ride the grouped table") {
    val p = executed(operators.LlmCorpus.llmCollocations(spark, sf))
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected exactly one documents scan, got $scans:\n$p")
    assert(!p.contains("Join"),
      s"cx/cy/nn must come from windows over the vocab²-bounded table, not joins:\n$p")
    assert(p.contains("bigram_pairs"), s"expected the native generator:\n$p")
  }
}
