package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import graft.functions.{GraftExtensions, SimplifySelfSpread}

/** §2.10 extension surfaces: custom Catalyst expression (codegen) and
  * the multimodal mapPartitions plumbing. */
class ExtensionSpec extends SparkTestBase {

  /** `df`'s rows with [[SimplifySelfSpread]] excluded from the
    * optimizer. The shared session has the rule installed, so a plain
    * collect could already be folded and compare the rule with itself. */
  private def unfoldedRows(df: DataFrame): Array[Row] =
    GraftSession.withConfs(spark,
        Map("spark.sql.optimizer.excludedRules" -> SimplifySelfSpread.ruleName)) {
      val p = df.queryExecution.optimizedPlan.toString
      assert(!p.contains("isnan"), s"rule not excluded:\n$p")
      df.collect()
    }

  test("fused_spread: Column API, SQL registration, and composed expr agree") {
    val bad = operators.UDX.exprCustom(spark, sf)
      .filter(col("spread_native") =!= col("spread_sql") ||
        col("spread_native") =!= col("spread_composed"))
    assert(bad.count() == 0)
  }

  test("fused_spread stays inside whole-stage codegen") {
    val df = Tables.part(spark, sf).select(
      graft.functions.GraftFunctions.fusedSpread(
        col("p_retailprice") - 5.0, col("p_retailprice") + 5.0).as("s"))
    df.collect()
    val p = plan(df)
    assert(p.contains("*(1)"), s"custom expression broke codegen:\n$p")
    // and the generated code actually contains the fused computation
    val code = org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    assert(code.contains("/ 2.0"), "fused arithmetic not in generated code")
  }

  test("SimplifySelfSpread folds fused_spread(x, x) to a null-safe zero") {
    val df = Tables.part(spark, sf).select(
      graft.functions.GraftFunctions.fusedSpread(
        col("p_retailprice"), col("p_retailprice")).as("s"))
    val before = df.queryExecution.analyzed
    val after = SimplifySelfSpread(before)
    assert(before.toString.contains("fused_spread"))
    assert(!after.toString.contains("fused_spread"), s"not simplified:\n$after")
    // semantics preserved: rewritten plan computes the same values
    val viaRule = org.apache.spark.sql.GraftSqlBridge.ofRows(spark, after).collect()
    val direct = unfoldedRows(df)
    assert(viaRule.map(_.toString).toSeq == direct.map(_.toString).toSeq)
    assert(direct.forall(_.getDouble(0) == 0.0))
  }

  test("SimplifySelfSpread preserves NaN/Inf/null semantics exactly") {
    // the fold must reproduce the unfolded expression on every IEEE
    // class: (x-x)/((x+x)/2) is NaN for x = NaN and x = ±Inf, null for
    // null, 0.0 for finite — a plain fold-to-zero would silently
    // change results for non-finite doubles
    val df = spark.sql(
      """SELECT x, fused_spread(x, x) AS s FROM VALUES
           (CAST('NaN' AS DOUBLE)), (CAST('Infinity' AS DOUBLE)),
           (CAST('-Infinity' AS DOUBLE)), (CAST(NULL AS DOUBLE)),
           (42.5D), (0.0D) AS t(x)""")
    val before = df.queryExecution.analyzed
    val after = SimplifySelfSpread(before)
    assert(!after.toString.contains("fused_spread"), s"not simplified:\n$after")
    def render(r: Row): String =
      if (r.isNullAt(1)) "null" else r.getDouble(1).toString
    val viaRule = org.apache.spark.sql.GraftSqlBridge.ofRows(spark, after)
      .collect().map(render).toSeq
    val direct = unfoldedRows(df).map(render).toSeq
    assert(viaRule == direct, s"fold diverged: $viaRule vs $direct")
    assert(direct == Seq("NaN", "NaN", "NaN", "null", "0.0", "0.0"), direct)
  }

  test("CBO: ANALYZE TABLE statistics reach the optimized plan") {
    // the statistics surface a 100 TB deployment runs on: row/column
    // stats from ANALYZE feed the cost-based optimizer (join reorder,
    // build-side choice) instead of raw file sizes
    GraftSession.withConfs(spark, Map("spark.sql.cbo.enabled" -> "true")) {
      try {
        Tables.nation(spark, sf).write.mode("overwrite").saveAsTable("cbo_nation")
        spark.sql("ANALYZE TABLE cbo_nation COMPUTE STATISTICS FOR ALL COLUMNS")
        val stats = spark.table("cbo_nation").queryExecution.optimizedPlan.stats
        val expected = Tables.nation(spark, sf).count()
        assert(stats.rowCount.contains(BigInt(expected)),
          s"ANALYZE row count did not reach the plan: ${stats.rowCount}")
        assert(stats.attributeStats.nonEmpty,
          "column-level statistics missing from the optimized plan")
        val distinct = stats.attributeStats.find(_._1.name == "n_nationkey")
          .flatMap(_._2.distinctCount)
        assert(distinct.contains(BigInt(expected)),
          s"n_nationkey NDV should equal row count for a key column: $distinct")
      } finally spark.sql("DROP TABLE IF EXISTS cbo_nation")
    }
  }

  test("GraftExtensions.install is idempotent: each piece once") {
    GraftExtensions.install(spark)
    GraftExtensions.install(spark)
    val id = FunctionIdentifier("fused_spread")
    assert(spark.sessionState.functionRegistry.listFunction().count(_ == id) == 1)
    assert(spark.experimental.extraOptimizations.count(_ == SimplifySelfSpread) == 1)
    assert(spark.experimental.extraStrategies.count(_ == plans.AsOfJoinStrategy) == 1)
  }

  test("keys that need the extensions install them on a fresh session") {
    // newSession() has its own SessionState: none of the pieces until
    // a key installs them
    val fresh = spark.newSession()
    assert(!fresh.sessionState.functionRegistry.functionExists(FunctionIdentifier("fused_spread")))
    assert(fresh.experimental.extraStrategies.isEmpty)
    for (key <- Seq("join_asof_native", "expr_custom")) {
      val fn = SparkEntry.queries(key)
      assert(fn(fresh, sf).collect().map(_.toString).toSeq ==
        fn(spark, sf).collect().map(_.toString).toSeq, key)
    }
  }

  test("join_dpp plants a dynamic-pruning subquery on the fact scan") {
    // build the partitioned layout, then inspect the join subplan
    operators.Relational.joinDpp(spark, sf).collect()
    val p = plan(operators.Relational.dppJoinOnly(spark, sf))
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n$p")
  }

  test("multimodal decode: deterministic, and histogram counts total bytes") {
    val a = operators.Multimodal.mmDecodeFeatures(spark, sf).collect()
    val b = operators.Multimodal.mmDecodeFeatures(spark, sf).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    a.take(20).foreach { r =>
      assert(r.getInt(4) <= r.getInt(1), "top bucket cannot exceed total bytes")
      assert(r.getInt(5) >= 1 && r.getInt(5) <= 16)
    }
  }

  test("multimodal frame sampling: stride-4 indices, full frames except last") {
    val rows = operators.Multimodal.mmFrameSample(spark, sf).collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, frames) =>
      val idx = frames.map(_.getInt(1)).sorted
      assert(idx.head == 0 && idx.zip(idx.tail).forall { case (x, y) => y - x == 4 })
      // all but the final sampled frame are exactly 256 bytes
      frames.sortBy(_.getInt(1)).dropRight(1)
        .foreach(f => assert(f.getInt(2) == 256))
    }
  }

  test("sink_partitioned_scan prunes partitions at the source") {
    val path = scratchDir("graft_prune_test")
    Tables.events(spark, sf)
      .write.mode("overwrite").partitionBy("event_type").parquet(path)
    val df = spark.read.parquet(path)
      .filter(col("event_type") === "purchase")
      .agg(count(lit(1)))
    df.collect()
    val p = plan(df)
    assert(p.contains("PartitionFilters: [isnotnull(event_type"),
      s"partition filter not pushed to scan:\n$p")
  }

  test("multimodal decode is a narrow transform (no shuffle before decode)") {
    val df = operators.Multimodal.mmDecodeFeatures(spark, sf)
    df.collect()
    val p = plan(df)
    // exactly one exchange: the final orderBy's range partitioning
    assert("Exchange".r.findAllIn(p.replace("AQEShuffleRead", "")).size <= 2,
      s"decode path shuffled more than the final sort:\n$p")
  }
}
