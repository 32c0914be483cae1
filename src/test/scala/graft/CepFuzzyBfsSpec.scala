package graft

import org.apache.spark.sql.functions._

/** Kernel semantics for the round-14 session-2 additions:
  * `ts_cep_pattern` (CEP V-reversal over lag windows),
  * `join_fuzzy_blocked` (SymSpell deletion-neighborhood fuzzy join —
  * including the no-false-negative guarantee and the scale probe the
  * MinhashScaleSpec pattern prescribes), and `graph_sssp` (fixed-
  * horizon multi-source BFS). Cross-engine equality is the DuckDB
  * oracle's job; these pin what the operators MEAN on hand-built
  * inputs with worked-by-hand expectations. */
class CepFuzzyBfsSpec extends SparkTestBase {

  import java.sql.Timestamp

  private def ts(s: String) = Timestamp.valueOf(s)

  test("cepVReversal: hand-built sequences — match, strictness, tie order") {
    import spark.implicits._
    val ticks = Seq(
      // user 1: 10.00 > 9.00 > 8.50 > 8.00 then 9.25 — one V at t5
      (1L, ts("2024-01-01 10:00:00"), 1L, 10.00),
      (1L, ts("2024-01-01 10:01:00"), 2L, 9.00),
      (1L, ts("2024-01-01 10:02:00"), 3L, 8.50),
      (1L, ts("2024-01-01 10:03:00"), 4L, 8.00),
      (1L, ts("2024-01-01 10:04:00"), 5L, 9.25),
      // user 2: strictly rising — no match
      (2L, ts("2024-01-01 10:00:00"), 6L, 1.00),
      (2L, ts("2024-01-01 10:01:00"), 7L, 2.00),
      (2L, ts("2024-01-01 10:02:00"), 8L, 3.00),
      (2L, ts("2024-01-01 10:03:00"), 9L, 4.00),
      (2L, ts("2024-01-01 10:04:00"), 10L, 5.00),
      // user 3: flat ties — strict < fails, no match
      (3L, ts("2024-01-01 10:00:00"), 11L, 5.00),
      (3L, ts("2024-01-01 10:01:00"), 12L, 5.00),
      (3L, ts("2024-01-01 10:02:00"), 13L, 5.00),
      (3L, ts("2024-01-01 10:03:00"), 14L, 6.00),
      // user 4: ALL ticks share one timestamp — event_id must order
      // them (4.00, 3.00, 2.00, 5.00 → V at the last)
      (4L, ts("2024-01-01 11:00:00"), 21L, 4.00),
      (4L, ts("2024-01-01 11:00:00"), 22L, 3.00),
      (4L, ts("2024-01-01 11:00:00"), 23L, 2.00),
      (4L, ts("2024-01-01 11:00:00"), 24L, 5.00))
      .toDF("user_id", "ts", "event_id", "value")
    val out = operators.TimeSeries.cepVReversal(ticks).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_matches"), r.getAs[Long]("rebound_cents"),
          r.getAs[Long]("max_depth_cents"))).toMap
    assert(out.keySet == Set(1L, 4L), s"matched users: ${out.keySet}")
    // user 1: rebound 925−800, depth 900−800
    assert(out(1L) == ((1L, 125L, 100L)))
    // user 4: rebound 500−200, depth 400−200
    assert(out(4L) == ((1L, 300L, 200L)))
  }

  test("fuzzyPairs: hand-built names — sub/insert/equal matched, swap (lev 2) rejected") {
    import spark.implicits._
    val df = Seq(
      (1L, "abc"), (2L, "abd"), (3L, "abcd"), (4L, "abc"), (5L, "acb"),
      (6L, "xyz"))
      .toDF("id", "name")
    val got = operators.FuzzyJoin.fuzzyPairs(df).collect()
      .map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Int]("dist"))).toSet
    // worked by hand: every lev ≤ 1 pair, nothing else. Note (4,5)
    // and (1,5): "abc"/"acb" SHARE the deletion variant "ab" (so the
    // blocking proposes them) but lev = 2 — the exact post-filter
    // must reject; "xyz" pairs with nothing.
    val want = Set(
      (1L, 2L, 1), (1L, 3L, 1), (1L, 4L, 0),
      (2L, 3L, 1), (2L, 4L, 1), (3L, 4L, 1))
    assert(got == want, s"got $got")
  }

  test("fuzzyPairs scale probe: 100k distinct names + 50 planted twins through the production kernel") {
    // the MinhashScaleSpec pattern: the probe must drive PRODUCTION
    // code over ≥100k DISTINCT payloads. Background names are 12-char
    // md5 prefixes (hex alphabet — random dist ≤ 1 collisions are
    // ~13·15/16^12 per pair, nil); each planted pair is a name and
    // its one-substitution twin ('z' never occurs in hex, so the twin
    // is distance exactly 1 and collides with no background name).
    val base = spark.range(100000).select(col("id"),
      substring(md5(concat(lit("n"), col("id"))), 1, 12).as("name"))
    val planted = spark.range(50).select(
      (col("id") * 2 + 1000000).as("id"),
      substring(md5(concat(lit("p"), col("id"))), 1, 12).as("name"))
    val twins = spark.range(50).select(
      (col("id") * 2 + 1000001).as("id"),
      concat(lit("z"),
        substring(md5(concat(lit("p"), col("id"))), 2, 11)).as("name"))
    val df = base.union(planted).union(twins)
    val out = operators.FuzzyJoin.fuzzyPairs(df)
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id")))
    // all 50 planted pairs surface, and nothing else (deterministic
    // corpus — md5 — so exact-count is a stable pin, verified green)
    val plantedPairs =
      (0 until 50).map(i => (1000000L + 2 * i, 1000001L + 2 * i)).toSet
    assert(plantedPairs.subsetOf(out.toSet),
      s"missing planted: ${plantedPairs -- out.toSet}")
    assert(out.length == 50, s"unexpected extra pairs: ${out.length}")
    // the blocking bound the 100 TB story rides on: a variant bucket
    // admits at most (len+1)·|alphabet| parents — assert the measured
    // max is far inside it (no skew cliff in the candidate join)
    val maxBucket = operators.FuzzyJoin.variantsOf(df)
      .groupBy("v").count().agg(max("count")).collect()(0).getLong(0)
    assert(maxBucket <= 13 * 17,
      s"variant bucket $maxBucket exceeds the (len+1)·|alphabet| bound")
  }

  test("stream_cep_pattern: flushed match stream equals the batch lag-window formulation") {
    import org.apache.spark.sql.expressions.Window
    val streamed = streaming.Streaming.streamCepPattern(spark, sf).collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[Long]("rebound_cents"), r.getAs[Long]("depth_cents")))
      .toSet
    // independent batch compilation of the same pattern: per-match
    // rows from the lag window (the oracle's shape, in Spark)
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val batch = Tables.events(spark, sf)
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("ts"), col("user_id"),
        expr("CAST(CAST(value AS DECIMAL(30,2)) * 100 AS BIGINT)").as("vc"))
      .withColumn("v1", lag("vc", 1).over(w))
      .withColumn("v2", lag("vc", 2).over(w))
      .withColumn("v3", lag("vc", 3).over(w))
      .filter(col("v3") > col("v2") && col("v2") > col("v1") &&
        col("vc") > col("v1"))
      .collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[Long]("vc") - r.getAs[Long]("v1"),
        r.getAs[Long]("v3") - r.getAs[Long]("v1")))
      .toSet
    assert(streamed == batch,
      s"stream-only: ${streamed -- batch}; batch-only: ${batch -- streamed}")
    assert(streamed.nonEmpty)
  }

  test("bfsHistogram: chain graph — horizon cut, min-hop labels, unreachable absent") {
    import spark.implicits._
    // path 0—1—2—…—9 plus isolated edge 100—101: seed node 0
    val e0 = (0L to 8L).map(i => (i, i + 1)) :+ ((100L, 101L))
    val e = e0.toDF("u", "v")
      .union(e0.map(_.swap).toDF("u", "v"))
    val seeds = Seq(0L).toDF("node")
    val got = operators.Graph.bfsHistogram(e, seeds, maxHop = 4)
      .collect().map(r => r.getAs[Int]("hop") ->
        (r.getAs[Long]("n_nodes"), r.getAs[Long]("mn"))).toMap
    // exactly hops 0..4, one node each (the chain), node id = hop;
    // nodes 5..9 are beyond the horizon, 100/101 unreachable
    assert(got == Map(0 -> ((1L, 0L)), 1 -> ((1L, 1L)), 2 -> ((1L, 2L)),
      3 -> ((1L, 3L)), 4 -> ((1L, 4L))), s"got $got")
  }

  test("dq_reconcile: audit invariants hold on the shipped data") {
    val rows = operators.Etl.dqReconcile(spark, sf).collect()
    assert(rows.map(_.getAs[String]("o_orderstatus")).toSet == Set("F", "O", "P"))
    rows.foreach { r =>
      val (n, orphan, mismatch) = (r.getAs[Long]("n_orders"),
        r.getAs[Long]("n_orphan"), r.getAs[Long]("n_mismatch"))
      // the generator writes header totals independent of the lines:
      // every status has some orphan headers and every non-orphan
      // order mismatches (the audit must SAY so, not smooth it over)
      assert(orphan > 0 && mismatch == n - orphan, s"$r")
      assert(r.getAs[Long]("max_abs_diff_micro") > 0L)
    }
  }

  test("bfsHistogram: frontier exhaustion stops early and double-reach keeps min hop") {
    import spark.implicits._
    // triangle 0—1—2 (node 2 reachable at hop 1 via 0→2 AND hop 2 via
    // 0→1→2: min wins) — everything reached by hop 1, rounds 2+ must
    // contribute nothing
    val e0 = Seq((0L, 1L), (1L, 2L), (0L, 2L))
    val e = e0.toDF("u", "v").union(e0.map(_.swap).toDF("u", "v"))
    val seeds = Seq(0L).toDF("node")
    val got = operators.Graph.bfsHistogram(e, seeds, maxHop = 4)
      .collect().map(r => r.getAs[Int]("hop") -> r.getAs[Long]("n_nodes"))
      .toMap
    assert(got == Map(0 -> 1L, 1 -> 2L), s"got $got")
  }
}
