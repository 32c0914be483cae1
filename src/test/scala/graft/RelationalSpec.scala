package graft

import org.apache.spark.sql.functions._

/** Per-operator checks for the relational core (SURVEY.md §2.1–2.4, 2.6):
  * smoke-run every registered query, assert the physical-plan properties
  * the scale story depends on (pushdown, pruning, broadcast, top-k), and
  * cover the no-oracle keys with self-consistency / error-bound checks. */
class RelationalSpec extends SparkTestBase {

  // Keys whose EMPTY result at smoke scale is the correct answer, not
  // a bug — each with the reason. They must still RUN cleanly.
  private val emptyOkAtSmoke = Map(
    // Hamming ≤ 5 of 128 bits only admits (near-)exact duplicates and
    // sf0.001/sf0.01 plant none (sf0.1 yields the 8 planted exact-dup
    // pairs — see the key's scaladoc)
    "mm_phash_wide" -> "128-bit radius finds only exact dups; none planted below sf0.1")

  test("every registered query runs and returns rows on sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      if (emptyOkAtSmoke.contains(name))
        info(s"$name: ${n} rows (empty-ok: ${emptyOkAtSmoke(name)})")
      else assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("scan_pruned reads only 2 columns (column pruning reaches parquet)") {
    val p = plan(operators.Relational.scanPruned(spark, sf))
    assert(p.contains("ReadSchema"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice"), "pruning failed: extra columns read")
  }

  test("scan_filter_pushdown pushes the shipdate predicate to parquet") {
    val p = plan(operators.Relational.scanFilterPushdown(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"no pushed filter in plan:\n$p")
  }

  test("join_broadcast uses BroadcastHashJoin (fact side must not shuffle)") {
    val p = plan(operators.Relational.joinBroadcast(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"expected BHJ in plan:\n$p")
  }

  test("join_shuffle_hash plans a ShuffledHashJoin (hint honored, no sort phase)") {
    val p = plan(operators.Relational.joinShuffleHash(spark, sf))
    assert(p.contains("ShuffledHashJoin"), s"expected SHJ in plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"SMJ planned despite hint:\n$p")
  }

  test("limit_topk compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan(operators.Relational.limitTopk(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k operator:\n$p")
  }

  test("join_multiway broadcasts every dimension (facts shuffle only on keys)") {
    val p = plan(operators.Relational.joinMultiway(spark, sf))
    val nBhj = "BroadcastHashJoin".r.findAllIn(p).length
    assert(nBhj >= 3, s"expected >=3 broadcast joins (nation/region, supplier, nation), got $nBhj:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"multiway join must stay equi-join only:\n$p")
  }

  test("join_bucketed_colocated: bucketed layout removes the join shuffle") {
    // run the registered key once (creates the bucketed tables + checks rows)
    assert(operators.Relational.joinBucketedColocated(spark, sf).count() > 0)
    // at smoke scale the planner would rather broadcast the tiny orders
    // side (also exchange-free on the fact, but not what this spec
    // proves); pin it off so the bucketed sort-merge path is exercised
    GraftSession.withConfs(spark, Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      val joinDf = operators.Relational.bucketedJoinOnly(spark, sf)
      joinDf.collect()
      val p = plan(joinDf)
      assert(!p.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$p")
      assert(p.contains("SortMergeJoin"), s"expected bucketed SMJ:\n$p")
    }
  }

  test("AQE splits a skewed join partition at runtime (skew=true)") {
    // the runtime half of the skew story (agg_salted_skew is the
    // author-side half): pile ~90% of both sides onto one key, lower
    // the detection thresholds to smoke-data sizes, and assert
    // OptimizeSkewedJoin rewrote the sort-merge join
    GraftSession.withConfs(spark, Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      // isolate the skew rule from partition coalescing, and keep it
      // applied even where it would add exchanges
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")) {
      // repartition first: the smoke parquet is ONE file = one map
      // task, and a skewed reducer partition can only be split at
      // mapper-output granularity — several mappers must exist
      val li = Tables.lineitem(spark, sf).repartition(8)
        .select(when(col("l_orderkey") % 10 < 9, 0L)
          .otherwise(col("l_orderkey")).as("k"), col("l_quantity"))
      val o = Tables.orders(spark, sf).repartition(8)
        .select(when(col("o_orderkey") % 40 === 0, 0L)
          .otherwise(col("o_orderkey")).as("k"), col("o_totalprice"))
      val joined = li.join(o, "k")
      // collect() (not count()) so THIS DataFrame's QueryExecution runs
      // and its AdaptiveSparkPlan is finalized for inspection
      assert(joined.collect().length > 0)
      val p = plan(joined)
      assert(p.contains("skew=true") || p.contains("skewed"),
        s"AQE did not split the skewed partition:\n$p")
    }
  }

  test("join_asof_native (custom LogicalPlan/Strategy/SparkPlan) equals the composition") {
    val nativeDf = plans.AsOfJoinPlans.joinAsofNative(spark, sf)
    val p = plan(nativeDf)
    assert(p.contains("AsOfJoin"), s"custom operator not planned:\n$p")
    val native = nativeDf.collect()
    val composed = operators.Relational.joinAsof(spark, sf).collect()
    assert(native.length == composed.length)
    native.zip(composed).foreach { case (n, c) =>
      assert(n.toString == c.toString, s"diverged: $n vs $c") }
  }

  test("join_asof_native is invariant to partition count (distribution safety)") {
    // a custom SparkPlan's most dangerous failure mode is a result
    // that depends on physical partitioning; the merge must produce
    // identical rows whether the hash shuffle lands on 1, 3, or 8
    // partitions
    val base = plans.AsOfJoinPlans.joinAsofNative(spark, sf)
      .collect().map(_.toString).toSeq
    for (n <- Seq("1", "3"))
      GraftSession.withConfs(spark, Map("spark.sql.shuffle.partitions" -> n)) {
        val got = plans.AsOfJoinPlans.joinAsofNative(spark, sf)
          .collect().map(_.toString).toSeq
        assert(got == base, s"result changed at $n shuffle partitions")
      }
  }

  test("native as-of forward/nearest/tolerance equal their window twins") {
    // the three non-backward modes of the custom SparkPlan must produce
    // row-for-row the same result as the window compositions that share
    // their oracles — any drift means the merge pass's candidate
    // selection (tie handling, peek-ahead, staleness bound) is wrong
    val pairs = Seq[((org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame, QFn, String)](
      (plans.AsOfJoinPlans.joinAsofForwardNative,
        operators.Relational.joinAsofForward, "forward"),
      (plans.AsOfJoinPlans.joinAsofNearestNative,
        operators.Relational.joinAsofNearest, "nearest"),
      (plans.AsOfJoinPlans.joinAsofToleranceNative,
        operators.Relational.joinAsofTolerance, "tolerance"))
    pairs.foreach { case (nativeFn, composedFn, label) =>
      val nativeDf = nativeFn(spark, sf)
      assert(plan(nativeDf).contains("AsOfJoin"),
        s"$label: custom operator not planned")
      val native = nativeDf.collect()
      val composed = composedFn(spark, sf).collect()
      assert(native.length == composed.length, s"$label row counts differ")
      native.zip(composed).foreach { case (n, c) =>
        assert(n.toString == c.toString, s"$label diverged: $n vs $c") }
    }
  }

  test("native as-of forward/nearest are invariant to partition count") {
    // same distribution-safety contract as the backward test above:
    // peek-ahead across the forward boundary must not depend on where
    // the hash shuffle lands
    for (fn <- Seq(plans.AsOfJoinPlans.joinAsofForwardNative,
        plans.AsOfJoinPlans.joinAsofNearestNative)) {
      val base = fn(spark, sf).collect().map(_.toString).toSeq
      for (n <- Seq("1", "3"))
        GraftSession.withConfs(spark, Map("spark.sql.shuffle.partitions" -> n)) {
          val got = fn(spark, sf).collect().map(_.toString).toSeq
          assert(got == base, s"result changed at $n shuffle partitions")
        }
    }
  }

  test("join_asof invariant: matched click is latest at-or-before purchase") {
    val res = operators.Relational.joinAsof(spark, sf)
    // every non-null last_click_ts <= purchase ts
    assert(res.filter(col("last_click_ts") > col("ts")).count() == 0)
    // spot-check against a driver-side computation on one user
    val e = Tables.events(spark, sf)
      .select("user_id", "ts", "event_type").collect()
    val byUser = e.groupBy(_.getLong(0))
    val some = res.filter(col("last_click_ts").isNotNull).limit(20).collect()
    some.foreach { r =>
      val uid = r.getLong(1); val ts = r.getTimestamp(2); val got = r.getTimestamp(3)
      val want = byUser(uid).filter(x => x.getString(2) == "click" && !x.getTimestamp(1).after(ts))
        .map(_.getTimestamp(1)).maxBy(_.getTime)
      assert(got == want, s"user $uid purchase@$ts: got $got want $want")
    }
  }

  test("as-of family: forward is at-or-after, nearest minimizes |delta-t|") {
    val back = operators.Relational.joinAsof(spark, sf)
      .withColumnRenamed("last_click_ts", "prev_ts")
    val fwd = operators.Relational.joinAsofForward(spark, sf)
      .withColumnRenamed("next_click_ts", "next_ts")
    assert(fwd.filter(col("next_ts") < col("ts")).count() == 0)
    // nearest must pick whichever of (prev, next) is closer in micros,
    // preferring prev on ties; and be one of the two carries
    val near = operators.Relational.joinAsofNearest(spark, sf)
    val j = near.join(back.select("event_id", "prev_ts"), "event_id")
      .join(fwd.select("event_id", "next_ts"), "event_id")
    val expect = when(col("prev_ts").isNull, col("next_ts"))
      .when(col("next_ts").isNull, col("prev_ts"))
      .when(unix_micros(col("ts")) - unix_micros(col("prev_ts")) <=
        unix_micros(col("next_ts")) - unix_micros(col("ts")), col("prev_ts"))
      .otherwise(col("next_ts"))
    assert(j.filter(!(col("near_click_ts") <=> expect)).count() == 0)
    assert(near.filter(col("near_click_ts").isNotNull).count() > 0)
  }

  test("join_bloom_prefilter: no false negatives, near-exact fact pruning") {
    val dim = Tables.customer(spark, sf)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val bf = dim.stat.bloomFilter("c_custkey", 100000L, 0.01)
    val o = Tables.orders(spark, sf)
    val total = o.count()
    val mightContain = udf((k: Long) => bf.mightContainLong(k))
    val kept = o.filter(mightContain(col("o_custkey"))).count()
    val trueMatches = o.join(dim, col("o_custkey") === col("c_custkey"), "left_semi").count()
    assert(kept >= trueMatches, "bloom filters must never drop a true match")
    assert(kept <= trueMatches + math.max(10L, (total * 0.05).toLong),
      s"bloom pruned too little: kept=$kept true=$trueMatches total=$total")
  }

  test("agg_approx_distinct HLL relative error < 5%") {
    operators.Relational.aggApproxDistinct(spark, sf).collect().foreach { r =>
      val approx = r.getDouble(1)
      val exact = r.getLong(2).toDouble
      assert(math.abs(approx - exact) / exact < 0.05,
        s"${r.getString(0)}: approx=$approx exact=$exact")
    }
  }

  test("source_csv_roundtrip agrees with direct parquet aggregation") {
    val viaCsv = operators.Relational.sourceCsvRoundtrip(spark, sf).collect()
    val direct = Tables.lineitem(spark, sf)
      .filter(col("l_orderkey") % 50 === 0)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), Det.dsum2(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag").collect()
    assert(viaCsv.map(_.toString).toSeq == direct.map(_.toString).toSeq)
  }

  test("filter composition law: filter(p).filter(q) == filter(p && q)") {
    val li = Tables.lineitem(spark, sf)
    val p = col("l_quantity") > 25.0
    val q = col("l_discount") <= 0.05
    assert(li.filter(p).filter(q).count() == li.filter(p && q).count())
  }

  test("semi join == inner join + distinct projection") {
    val c = Tables.customer(spark, sf)
    val o = Tables.orders(spark, sf).filter(col("o_orderstatus") === "F")
    val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey")
    val innerDistinct = c.join(o, col("c_custkey") === col("o_custkey"))
      .select("c_custkey").distinct()
    assert(semi.count() == innerDistinct.count())
    assert(semi.except(innerDistinct).count() == 0)
  }
}
