package graft.operators

import graft.{Det, GraftSession, KeySpec, QFn, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Relational core: scans, projection/filter, joins, aggregations,
  * sort/limit/set-ops (SURVEY.md §2.1–§2.4, §2.6), then the join,
  * scan and aggregation forms beyond that enumeration a lake pipeline
  * reaches for: pivot/unpivot, correlated subqueries, skew handling,
  * bucketed/DPP/bloom joins, exact and sketched quantiles.
  *
  * Design rules (scale-first):
  *  - everything is declarative DataFrame API → Catalyst handles
  *    pushdown, pruning, join selection; no driver-side loops;
  *  - dimension-side joins (`part`, `nation`, `region`) carry an
  *    explicit `broadcast()` hint — at 100 TB the fact side never
  *    shuffles for those;
  *  - double aggregation goes through exact DECIMAL sums (see
  *    [[graft.Det]]) so results are order-independent → identical
  *    across any executor count, and DuckDB-oracle-stable.
  */
object Relational {

  import Det._

  // ---------------------------------------------------------------- §2.1

  /** Full scan + aggregate; the parquet vectorized reader path. */
  val scanParquet: QFn = (s, d) =>
    Tables.lineitem(s, d).agg(
      count(lit(1)).as("n_rows"),
      dsum2(col("l_quantity")).as("sum_qty"))

  /** Column pruning: 2 of 11 lineitem columns; `ReadSchema` in the
    * plan must show only these two. */
  val scanPruned: QFn = (s, d) =>
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_quantity")
      .orderBy("l_orderkey", "l_quantity")

  /** Predicate pushdown: the shipdate filter must reach
    * `PushedFilters` on the parquet scan (asserted in tests). */
  val scanFilterPushdown: QFn = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), dsum2(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_returnflag")

  /** Format roundtrips: write a lineitem sample to <fmt>, read it back
    * with an explicit schema, aggregate. Losslessness makes the result
    * equal the same aggregate over the original parquet — which is the
    * DuckDB oracle, so the whole write→read path is oracle-checked. */
  private def roundtrip(s: SparkSession, d: String, fmt: String): DataFrame = {
    val sample = Tables.lineitem(s, d).filter(col("l_orderkey") % 50 === 0)
    // per-(format, dataset, JVM) path (mode=overwrite): repeated
    // verify/bench runs reuse the directory instead of accumulating
    // litter; concurrent runs over other SFs/JVMs are isolated
    val path = Tables.sinkPath(s, d, s"roundtrip_$fmt")
    val w = sample.write.mode("overwrite")
      .option("header", "true").option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
    fmt match {
      case "csv" => w.csv(path)
      case "json" => w.json(path)
      case "orc" => w.orc(path)
    }
    // read back with the sample's OWN schema: parquet timestamps here
    // are NTZ (isAdjustedToUTC=false) and ORC refuses an NTZ→LTZ cast
    val r = s.read.schema(sample.schema)
      .option("header", "true").option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
    val back = fmt match {
      case "csv" => r.csv(path)
      case "json" => r.json(path)
      case "orc" => r.orc(path)
    }
    back.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), dsum2(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  val sourceCsvRoundtrip: QFn = (s, d) => roundtrip(s, d, "csv")
  val sourceJsonRoundtrip: QFn = (s, d) => roundtrip(s, d, "json")
  val sourceOrcRoundtrip: QFn = (s, d) => roundtrip(s, d, "orc")

  /** Line-oriented text source — the one-column `value` schema every
    * raw log/corpus ingest starts from. documents.text staged as .txt
    * lines (the corpus has no embedded newlines), read back, and
    * reduced to line/char totals the parquet truth must reproduce. */
  val sourceTextRoundtrip: QFn = (s, d) => {
    val path = Tables.sinkPath(s, d, "roundtrip_text")
    Tables.documents(s, d).select(col("text"))
      .write.mode("overwrite").text(path)
    s.read.text(path)
      .agg(count(lit(1)).as("n_lines"),
        sum(length(col("value"))).as("n_chars"))
  }

  // ---------------------------------------------------------------- §2.2

  /** Derived-column arithmetic; per-row IEEE double ops are
    * bit-identical across engines, so no rounding is needed. */
  val projectArith: QFn = (s, d) =>
    Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("disc_price"),
      (col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("charge"),
      (col("l_quantity") * col("l_extendedprice")).as("qty_price"))
      .orderBy("l_orderkey", "l_linenumber")

  /** AND/OR/NOT + IN + BETWEEN + LIKE in one predicate tree. */
  val filterConj: QFn = (s, d) =>
    Tables.part(s, d).filter(
      (col("p_size").between(5, 20) &&
        col("p_type").isin("ECONOMY", "SMALL") &&
        col("p_name").like("%bolt%")) ||
      (!(col("p_brand") === "Brand#1") && col("p_retailprice") > 910.0))
      .orderBy("p_partkey")

  /** Three-valued logic: IS NULL / IS NOT NULL / null-safe equality
    * on a column made nullable via NULLIF. */
  val filterNullSemantics: QFn = (s, d) => {
    val dn = when(col("l_discount") === 0.0, lit(null).cast("double"))
      .otherwise(col("l_discount"))
    Tables.lineitem(s, d).select(dn.as("dn")).agg(
      count(when(col("dn").isNull, 1)).as("n_null"),
      count(when(col("dn").isNotNull, 1)).as("n_not_null"),
      count(when(col("dn") <=> lit(0.05), 1)).as("n_nullsafe_eq"),
      count(when(col("dn") <=> lit(null).cast("double"), 1)).as("n_nullsafe_null"))
  }

  // ---------------------------------------------------------------- §2.3

  /** Plain equi inner join (sort-merge/shuffled-hash at scale). */
  val joinInnerEqui: QFn = (s, d) =>
    Tables.orders(s, d)
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), dsum2(col("o_totalprice")).as("sum_total"))
      .orderBy("c_mktsegment")

  /** Broadcast-hinted dimension join: the lineitem side must NOT
    * shuffle (BroadcastHashJoinExec asserted in tests). */
  val joinBroadcast: QFn = (s, d) =>
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        dsum4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy("p_brand")

  /** Left + right + full outer in one tagged result, with guaranteed
    * unmatched rows on both sides (keys filtered mod 3). */
  val joinOuter: QFn = (s, d) => {
    val l = Tables.customer(s, d).filter(col("c_custkey") % 3 =!= 0)
      .select("c_custkey", "c_mktsegment")
    val r = Tables.orders(s, d).filter(col("o_custkey") % 3 =!= 1)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), dsum2(col("o_totalprice")).as("sum_price"))
    def side(jt: String) = l.join(r, col("c_custkey") === col("o_custkey"), jt)
      .select(lit(jt).as("jt"),
        coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
        col("c_mktsegment"), col("n_orders"), col("sum_price"))
    side("left").unionByName(side("right")).unionByName(side("full"))
      .orderBy("jt", "custkey")
  }

  /** Left-semi (EXISTS) + left-anti (NOT EXISTS), tagged. */
  val joinSemiAnti: QFn = (s, d) => {
    val c = Tables.customer(s, d)
    val f = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
    def side(jt: String, tag: String) =
      c.join(f, col("c_custkey") === col("o_custkey"), jt)
        .select(lit(tag).as("jt"), col("c_custkey"), col("c_name"))
    side("left_semi", "semi").unionByName(side("left_anti", "anti"))
      .orderBy("jt", "c_custkey")
  }

  /** Theta/range join: same-brand part pairs with strictly greater
    * size. Equi on brand keeps it a hash/SMJ join with a residual
    * range predicate — no nested loop at scale. */
  val joinThetaRange: QFn = (s, d) => {
    val a = Tables.part(s, d).select(
      col("p_partkey").as("a_key"), col("p_brand").as("a_brand"), col("p_size").as("a_size"))
    val b = Tables.part(s, d).select(
      col("p_partkey").as("b_key"), col("p_brand").as("b_brand"), col("p_size").as("b_size"))
    a.join(b, col("a_brand") === col("b_brand") && col("a_size") < col("b_size"))
      .groupBy(col("a_brand").as("p_brand"))
      .agg(count(lit(1)).as("n_pairs"),
        (sum((col("b_size") - col("a_size")).cast("long")).cast("double") / count(lit(1))).as("avg_gap"))
      .orderBy("p_brand")
  }

  /** The same per-brand pair aggregate as [[joinThetaRange]] WITHOUT
    * enumerating pairs — the 100 TB formulation. The theta join's
    * within-brand pair count grows quadratically in parts-per-brand
    * (brand cardinality is fixed while part count scales; measured
    * 37× wall at the 10× replica purely from pair volume), but the
    * aggregate over those pairs is an order-statistics sum: group to
    * (brand, size) counts, order by size, and each size contributes
    * `cnt·c_lt` pairs and `cnt·(size·c_lt − s_lt)` total gap, where
    * c_lt/s_lt are the strictly-smaller cumulative count / size-sum.
    * Work drops from O(pairs) to O(distinct (brand, size)) — the
    * window input after the groupBy is brand×|size-domain| rows. */
  val joinThetaPrefix: QFn = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val bySize = Tables.part(s, d)
      .groupBy(col("p_brand"), col("p_size"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("p_brand").orderBy("p_size")
      .rowsBetween(Window.unboundedPreceding, -1)
    bySize
      .withColumn("c_lt", coalesce(sum("cnt").over(w), lit(0L)))
      .withColumn("s_lt",
        coalesce(sum(col("cnt") * col("p_size")).over(w), lit(0L)))
      .groupBy("p_brand")
      .agg(sum(col("cnt") * col("c_lt")).as("n_pairs"),
        (sum(col("cnt") * (col("p_size") * col("c_lt") - col("s_lt")))
          .cast("double") /
          sum(col("cnt") * col("c_lt"))).as("avg_gap"))
      .filter(col("n_pairs") > 0)
      .orderBy("p_brand")
  }

  /** Cartesian product over the two tiny dims. */
  val joinCross: QFn = (s, d) =>
    Tables.region(s, d).crossJoin(Tables.nation(s, d))
      .select("r_name", "n_name").orderBy("r_name", "n_name")

  /** The AS-OF CARRY over an event frame (event_id, ts, user_id,
    * event_type): one row per purchase, with the ts of the latest
    * click by the same user at-or-before it as `prev_ts` (`backward`)
    * and/or of the earliest at-or-after it as `next_ts` (`forward`).
    *
    * Spark has no native as-of join; rather than a per-row subquery
    * (which would be O(n²) at scale) this is the union-tag + running
    * `last`/`first(ignoreNulls)` window composition: one shuffle on
    * user_id, one sort per direction, linear scan — the same cost
    * shape as a sort-merge as-of join on a 1000-executor cluster.
    * Clicks are tagged 0 and purchases 1, so at an equal ts the click
    * sorts BEFORE the purchase in the backward order (ts, tag,
    * event_id) and AFTER it in the forward order (ts, tag desc,
    * event_id): either frame sees it, and ties match both ways. */
  def asofCarry(e: DataFrame, backward: Boolean, forward: Boolean): DataFrame = {
    val clicks = e.filter(col("event_type") === "click").select(
      col("user_id"), col("ts"), lit(0).as("tag"), col("event_id"),
      col("ts").as("click_ts"))
    val purchases = e.filter(col("event_type") === "purchase").select(
      col("user_id"), col("ts"), lit(1).as("tag"), col("event_id"),
      lit(null).cast("timestamp").as("click_ts"))
    val byUser = Window.partitionBy("user_id")
    val events = clicks.unionByName(purchases)
    val prev = if (!backward) events else events.withColumn("prev_ts",
      last(col("click_ts"), ignoreNulls = true).over(byUser.orderBy("ts", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val next = if (!forward) prev else prev.withColumn("next_ts",
      first(col("click_ts"), ignoreNulls = true).over(
        byUser.orderBy(col("ts"), col("tag").desc, col("event_id"))
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
    next.filter(col("tag") === 1)
  }

  private def asofEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select("event_id", "ts", "user_id", "event_type")

  /** AS-OF join (domain op): for each purchase event, the latest
    * click by the same user at-or-before the purchase timestamp —
    * the backward [[asofCarry]]. */
  val joinAsof: QFn = (s, d) =>
    asofCarry(asofEvents(s, d), backward = true, forward = false)
      .select(col("event_id"), col("user_id"), col("ts"), col("prev_ts").as("last_click_ts"))
      .orderBy("event_id")

  /** Forward as-of: each purchase matched to the NEXT click at-or-after
    * it — the other half of the as-of family (quote-after-trade in the
    * bid/ask domain), the forward [[asofCarry]]. */
  val joinAsofForward: QFn = (s, d) =>
    asofCarry(asofEvents(s, d), backward = false, forward = true)
      .select(col("event_id"), col("user_id"), col("ts"), col("next_ts").as("next_click_ts"))
      .orderBy("event_id")

  /** Nearest as-of: each purchase matched to the click MINIMIZING
    * |Δt|, earlier side winning ties. Both directional carries come
    * from the same user_id-partitioned exchange (two sorts, one
    * shuffle); the choice is a pure integer-µs projection. */
  val joinAsofNearest: QFn = (s, d) => asofNearest(asofEvents(s, d)).orderBy("event_id")

  /** [[joinAsofNearest]] over any event frame (see [[asofCarry]]). */
  def asofNearest(e: DataFrame): DataFrame =
    asofCarry(e, backward = true, forward = true)
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("prev_ts").isNull, col("next_ts"))
          .when(col("next_ts").isNull, col("prev_ts"))
          .when(unix_micros(col("ts")) - unix_micros(col("prev_ts")) <=
            unix_micros(col("next_ts")) - unix_micros(col("ts")), col("prev_ts"))
          .otherwise(col("next_ts")).as("near_click_ts"))

  /** Tolerance as-of: the backward carry, nulled when the match is
    * STALER than one hour — the staleness bound every production
    * as-of join carries (a quote from yesterday must not price
    * today's trade). Same single-exchange plan as [[joinAsof]] plus
    * one projection. */
  val joinAsofTolerance: QFn = (s, d) =>
    joinAsof(s, d).select(col("event_id"), col("user_id"), col("ts"),
      when(col("last_click_ts") >= col("ts") - expr("INTERVAL 1 HOUR"),
        col("last_click_ts")).as("last_click_1h"))
      .orderBy("event_id")

  /** Interval join: lineitems shipped within 30 days of their order
    * date (equi key + range residual → no nested loop). */
  val joinInterval: QFn = (s, d) =>
    Tables.orders(s, d).join(Tables.lineitem(s, d),
      col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") >= col("o_orderdate") &&
        col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum2(col("l_quantity")).as("sum_qty"))
      .orderBy("o_orderpriority")

  // ---------------------------------------------------------------- §2.4

  /** TPC-H Q1 shape — the flagship pricing summary. */
  val aggPricingSummary: QFn = (s, d) => {
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2001-09-01").cast("timestamp"))
    li.groupBy("l_returnflag", "l_linestatus").agg(
      dsum2(col("l_quantity")).as("sum_qty"),
      dsum2(col("l_extendedprice")).as("sum_base_price"),
      dsum4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
      dsum6(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
      davg2(col("l_quantity")).as("avg_qty"),
      davg2(col("l_extendedprice")).as("avg_price"),
      davg2(col("l_discount")).as("avg_disc"),
      count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** COUNT(DISTINCT) + SUM(DISTINCT) per group. */
  val aggDistinct: QFn = (s, d) =>
    Tables.lineitem(s, d).groupBy("l_returnflag").agg(
      countDistinct(col("l_partkey")).as("n_parts"),
      sum_distinct(col("l_quantity").cast(DecimalType(30, 2))).cast("double").as("sum_dist_qty"),
      count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** HLL approximate distinct — the PORTABLE md5-register
    * construction ([[Sketches.aggApproxDistinctHll]]), so the
    * estimate itself is oracle-checkable in DuckDB; the relative-
    * error spec against the exact count stays as the semantic gate. */
  val aggApproxDistinct: QFn = Sketches.aggApproxDistinctHll

  /** CUBE (superset of rollup / grouping-sets) with grouping flags.
    * Expressed via SQL: `grouping()` columns after a join trip Spark 4's
    * ambiguous-self-join analyzer when built with the Column API. */
  val aggRollupCubeSets: QFn = (s, d) => {
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .select("n_name", "c_mktsegment", "c_acctbal")
      .createOrReplaceTempView("graft_cube_base")
    s.sql("""
      SELECT n_name, c_mktsegment, count(*) AS n,
             CAST(sum(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) AS sum_bal,
             CAST(grouping(n_name) AS BIGINT) AS g_nation,
             CAST(grouping(c_mktsegment) AS BIGINT) AS g_segment
      FROM graft_cube_base
      GROUP BY CUBE (n_name, c_mktsegment)
      ORDER BY n_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""")
  }

  /** Statistical aggregates. Exact decimal power sums make the
    * moment-based stats reproducible; the builtin streaming versions
    * are rounded to absorb merge-order float noise. The median comes
    * from [[Quantiles.exactQuantiles]]'s sharded two-pass (not the
    * built-in `percentile`, whose whole-table aggregation buffer does
    * not spill — r4 verdict item 2), equi-joined on a constant key so
    * the 1-row frames combine as a BroadcastHashJoin, not a cross. */
  val aggStats: QFn = (s, d) => {
    val li = Tables.lineitem(s, d)
    // round (not fq) retained on the built-in moment aggregates:
    // Spark's and DuckDB's streaming co-moment merges land ulp-apart,
    // and round at coarse scale is the absorber — fq of ulp-apart
    // doubles can split across a grid edge (r9 round audit)
    val moments = li.agg(
      round(stddev_samp(col("l_extendedprice")), 2).as("std_price"),
      round(var_samp(col("l_extendedprice")), 2).as("var_price"),
      round(corr(col("l_extendedprice"), col("l_quantity")), 6).as("corr_pq"),
      round(covar_samp(col("l_extendedprice"), col("l_quantity")), 2).as("covar_pq"),
      round(skewness(col("l_extendedprice")), 6).as("skew_price"),
      round(kurtosis(col("l_extendedprice")), 6).as("kurt_price"),
      dsum2(col("l_extendedprice")).as("s1"),
      // the squared sum (~2e15 with 4 decimals) exceeds double
      // precision — decimal→double rounding differs across engines by
      // 1 ulp at that magnitude, so emit the exact integer part
      floor(sum((col("l_extendedprice") * col("l_extendedprice"))
        .cast(DecimalType(30, 4)))).cast("long").as("s2_int"))
    val median = Quantiles.exactQuantiles(s, li.select("l_extendedprice"),
      Nil, "l_extendedprice", Seq(0.5))
      // round retained: interpolation lands ulp-apart from DuckDB's
      // quantile_cont; round(3) absorbs it (r9 round audit)
      .select(round(col("exact_q"), 3).as("median_price"))
    moments.withColumn("_k", lit(0))
      .join(broadcast(median.withColumn("_k", lit(0))), "_k")
      .select("std_price", "var_price", "corr_pq", "covar_pq",
        "skew_price", "kurt_price", "median_price", "s1", "s2_int")
  }

  // ---------------------------------------------------------------- §2.6

  /** Multi-key sort with NULLS FIRST on a NULLIF-nullable column. */
  val sortMulti: QFn = (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"),
        nullif(col("o_orderpriority"), lit("3-MEDIUM")).as("pr"),
        col("o_totalprice"))
      .orderBy(col("pr").asc_nulls_first, col("o_totalprice").desc, col("o_orderkey"))

  /** Global top-k → TakeOrderedAndProjectExec (no full sort at scale). */
  val limitTopk: QFn = (s, d) =>
    Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)

  /** UNION ALL / UNION DISTINCT / INTERSECT / EXCEPT, tagged. */
  val setOps: QFn = (s, d) => {
    val c = Tables.customer(s, d)
    val a = c.filter(col("c_custkey") % 2 === 0).select("c_custkey", "c_mktsegment")
    val b = c.filter(col("c_custkey") % 3 === 0).select("c_custkey", "c_mktsegment")
    def tag(df: DataFrame, t: String) =
      df.select(lit(t).as("op"), col("c_custkey"), col("c_mktsegment"))
    tag(a.union(b), "union_all")
      .unionByName(tag(a.union(b).distinct(), "union_distinct"))
      .unionByName(tag(a.intersect(b), "intersect"))
      .unionByName(tag(a.except(b), "except"))
      .orderBy("op", "c_custkey")
  }

  // ----------------------------------------------------------- beyond §2

  private val Segments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** PIVOT: customer counts + balance sums per nation × segment.
    * Fixed value list → deterministic output schema; at scale pivot is
    * one partial-aggregated shuffle, same cost as the groupBy. */
  val aggPivot: QFn = (s, d) =>
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .pivot("c_mktsegment", Segments)
      .agg(dsum2(col("c_acctbal")))
      .orderBy("n_name")

  /** Correlated subqueries: scalar (vs. global avg), IN, and
    * correlated EXISTS — exercises Catalyst decorrelation. */
  val subqueryFamily: QFn = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("g_orders")
    Tables.customer(s, d).createOrReplaceTempView("g_customer")
    Tables.lineitem(s, d).createOrReplaceTempView("g_lineitem")
    s.sql("""
      SELECT o_orderkey, o_totalprice
      FROM g_orders o
      WHERE o_totalprice > (SELECT avg(o_totalprice) FROM g_orders)
        AND o_custkey IN (SELECT c_custkey FROM g_customer WHERE c_mktsegment = 'BUILDING')
        AND EXISTS (SELECT 1 FROM g_lineitem l
                    WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
      ORDER BY o_orderkey""")
  }

  /** Cohort retention matrix — users bucketed by their FIRST active
    * ISO week, counted per (cohort, week offset) of later activity:
    * the product-analytics staple. Two aggregations on user_id (first
    * week, distinct active weeks) + one broadcast-able join; offsets
    * are exact day arithmetic / 7 (weeks truncate to Monday in both
    * engines). */
  val aggRetentionCohort: QFn = (s, d) => {
    val e = Tables.events(s, d)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
    val firstWk = e.groupBy("user_id").agg(min("wk").as("cohort"))
    e.distinct().join(firstWk, "user_id")
      .select(col("cohort"),
        (datediff(col("wk").cast("date"), col("cohort").cast("date")) / 7)
          .cast("int").as("week_offset"),
        col("user_id"))
      .groupBy("cohort", "week_offset")
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort", "week_offset")
  }

  /** Batch sessionization (gaps-and-islands): a new session starts
    * after a >30-minute silence; session id is the running count of
    * session starts per user. Both windows share one (user_id) hash
    * partitioning + (ts, event_id) sort → one exchange total, then a
    * partial-agg rollup per (user, session) — the standard clickstream
    * shape at any scale. Gap compare is on epoch micros (exact integer
    * math, identical in DuckDB via epoch_us). */
  val aggSessionize: QFn = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = 30L * 60 * 1000000
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("sess_id", sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_id")
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("sess_start"), max("ts").as("sess_end"))
      .orderBy("user_id", "sess_id")
  }

  /** Approximate quantiles (Greenwald–Khanna via
    * `percentile_approx`) — the bounded-memory sketch a 100 TB
    * profiler uses — ORACLED through its CONTRACT (r8 verdict item 5):
    * the sketch value itself is engine-specific (DuckDB's
    * approx_quantile is a t-digest), so the output carries the
    * portable columns (q, exact twin, n) plus `rank_ok`, the GK rank
    * guarantee |rank(approx_q) − q·n| ≤ ε·n (ε = 1/accuracy, +1 slack)
    * evaluated against the data. The oracle emits literal TRUE for
    * rank_ok — the hash compare fails exactly when Spark's sketch
    * breaks its published bound, which is the strongest cross-engine
    * statement an engine-specific sketch admits. The returned value
    * v has rank interval [count(<v)+1, count(≤v)]; the check is
    * interval-overlap so duplicate values can't false-fail it.
    *
    * The exact twin is [[Quantiles.exactQuantiles]] — the sharded
    * rank/count two-pass — NOT the built-in `percentile`, whose
    * whole-table aggregation buffer was the one unbounded-memory plan
    * left in the bench path (r4 verdict item 2). */
  val aggApproxQuantile: QFn = (s, d) => {
    val li = Tables.lineitem(s, d)
    val approx = li.agg(
      expr("percentile_approx(l_extendedprice, array(0.25, 0.5, 0.75), 10000)")
        .as("approx_a"),
      count(lit(1)).as("n"))
      .select(posexplode(col("approx_a")), col("n"))
      .select((lit(0.25) + col("pos") * lit(0.25)).as("q"),
        col("col").as("approx_q"), col("n"))
    val ranked = li.select(col("l_extendedprice").as("x"))
      .crossJoin(broadcast(approx))
      .groupBy("q", "n", "approx_q")
      .agg(
        sum(when(col("x") <= col("approx_q"), 1L).otherwise(0L)).as("cnt_le"),
        sum(when(col("x") < col("approx_q"), 1L).otherwise(0L)).as("cnt_lt"))
    val slack = col("n").cast("double") * 1e-4 + 1.0
    val rankOk =
      (col("cnt_le").cast("double") >= col("q") * col("n") - slack) &&
        ((col("cnt_lt") + 1).cast("double") <= col("q") * col("n") + slack)
    // round (not fq) on exact_q: Spark's interpolation and DuckDB's
    // quantile_cont land ulp-apart; round(6) is the absorber (r9 audit)
    val exact = Quantiles.exactQuantiles(s,
      li.select("l_extendedprice"), Nil, "l_extendedprice",
      Seq(0.25, 0.5, 0.75))
      .select(col("q"), round(col("exact_q"), 6).as("exact_q"))
    ranked.withColumn("rank_ok", rankOk)
      .join(broadcast(exact), "q")
      .select("q", "exact_q", "n", "rank_ok")
      .orderBy("q")
  }

  /** The distributed exact-quantile path on its own, ORACLED: the
    * same (q, exact_q, n) rows DuckDB's `quantile_cont` produces,
    * proving the sharded rank/count machinery end-to-end — every
    * shard boundary, offset join, and interpolation — not just its
    * agreement with another Spark operator. */
  val aggQuantileTwopass: QFn = (s, d) =>
    Quantiles.exactQuantiles(s,
      Tables.lineitem(s, d).select("l_extendedprice"), Nil,
      "l_extendedprice", Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99))
      .select(col("q"), round(col("exact_q"), 6).as("exact_q"), col("n"))
      .orderBy("q")

  /** Bucketed range join — same semantics as `join_interval`
    * (lineitems shipped within 30 days of their order date) but
    * joined the way a 100 TB engine must: both sides mapped to
    * covering 30-day epoch buckets, equi-joined on (key, bucket), then
    * the exact range predicate applied as a residual and duplicates
    * from multi-bucket coverage removed — an equi-join on (key,
    * bucket) instead of a sort-merge over the full range.
    *
    * The join carries an explicit `merge` hint (r5 knob matrix): the
    * size estimator prices the exploded-distinct orders side BELOW
    * the broadcast threshold (explode + distinct defeats the stats),
    * so the planner builds a BroadcastHashJoin on a side that is 2×
    * |orders| rows — ~100M+ at the target scale, an un-broadcastable
    * build side hidden behind a misestimate. Forcing the shuffled
    * merge join is also locally faster (1.17 → 0.69 s best-of-3 at
    * sf0.1: the broadcast build of 300k rows sat on the critical
    * path). PlanContractSpec pins the no-broadcast shape. */
  val joinRangeBucketed: QFn = (s, d) => {
    // Bucket on CALENDAR DAYS since epoch, not unix seconds: the
    // timestamps are NTZ and the residual predicate is NTZ calendar
    // arithmetic, so the bucket key must be timezone-independent too —
    // unix_timestamp() interprets NTZ in the session zone, and in a DST
    // zone a 30-day wall-clock window spans 30d+1h of unix seconds,
    // leaking matches outside the computed buckets. datediff on the
    // date part is zone-free. A lineitem in [d, d+30d) has day(ship) in
    // [day(d), day(d)+30] — 31 consecutive days, spanning at most two
    // 30-day buckets, and always including the two endpoints' buckets.
    val bucketDays = 30L
    val dayNum = (c: org.apache.spark.sql.Column) =>
      datediff(c.cast("date"), lit("1970-01-01").cast("date")).cast("long")
    val o = Tables.orders(s, d).select(
      col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"),
      explode(array(
        floor(dayNum(col("o_orderdate")) / bucketDays),
        floor((dayNum(col("o_orderdate")) + bucketDays) / bucketDays)))
        .as("bucket"))
      .distinct()
    val li = Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_quantity"), col("l_shipdate"),
      floor(dayNum(col("l_shipdate")) / bucketDays).as("bucket"))
    o.hint("merge")
      .join(li, col("l_orderkey") === col("o_orderkey") && o("bucket") === li("bucket"))
      .filter(col("l_shipdate") >= col("o_orderdate") &&
        col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum2(col("l_quantity")).as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  /** Exact interpolated percentiles per group — the GROUPED form of
    * [[Quantiles.exactQuantiles]]'s sharded rank/count two-pass
    * (r4 verdict item 2: the built-in `percentile` buffers a whole
    * group's values in one non-spilling aggregation buffer; with 3
    * return-flag groups over lineitem that was table-scale memory).
    * Spark's interpolation and DuckDB's `quantile_cont` share the
    * (n−1)·q linear definition, so the quartiles hash-match (rounded
    * to absorb the final-interpolation ulp) — the oracle now proves
    * the DISTRIBUTED path, group by group. */
  val aggPercentileExact: QFn = (s, d) =>
    Quantiles.exactQuantiles(s,
      Tables.lineitem(s, d).select("l_returnflag", "l_quantity"),
      Seq("l_returnflag"), "l_quantity", Seq(0.25, 0.5, 0.75, 0.9))
      // scalar columns, not the raw array: the oracle hash-compare
      // sorts rows by every column and array cells don't sort
      .groupBy("l_returnflag")
      // round (not fq) retained: Spark's interpolation and DuckDB's
      // quantile_cont produce ulp-apart doubles, and round(6) is the
      // absorber that maps both onto the same decimal — fq would
      // split them across a grid edge (r9 round audit)
      .agg(
        round(max(when(col("q") === 0.25, col("exact_q"))), 6).as("q25"),
        round(max(when(col("q") === 0.5, col("exact_q"))), 6).as("q50"),
        round(max(when(col("q") === 0.75, col("exact_q"))), 6).as("q75"),
        round(max(when(col("q") === 0.9, col("exact_q"))), 6).as("q90"),
        max("n").as("n"))
      .orderBy("l_returnflag")

  /** EXCEPT / INTERSECT set semantics (DISTINCT forms) over customer
    * keys of final vs open orders, tagged and unioned into one
    * deterministic result. Both compile to hash aggregates over one
    * shuffle each — same scale shape as distinct. */
  val setExceptIntersect: QFn = (s, d) => {
    val o = Tables.orders(s, d)
    val fin = o.filter(col("o_orderstatus") === "F").select("o_custkey")
    val open = o.filter(col("o_orderstatus") === "O").select("o_custkey")
    fin.except(open).withColumn("tag", lit("final_only"))
      .unionByName(fin.intersect(open).withColumn("tag", lit("both")))
      .orderBy("tag", "o_custkey")
  }

  /** UNPIVOT (melt): the four lineitem measures rotated into
    * (measure, val) rows — the wide→long reshape every metrics
    * pipeline needs; a per-row Expand, no shuffle. */
  val unpivotMelt: QFn = (s, d) =>
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        "measure", "val")
      .orderBy("l_orderkey", "l_linenumber", "measure")

  /** Deterministic string aggregation: per-segment sorted name list.
    * `array_sort(collect_list(...))` makes the concatenation
    * order-independent across any partitioning — the only way a
    * distributed listagg can hash-match a single-node engine. */
  val aggStringAgg: QFn = (s, d) =>
    Tables.customer(s, d)
      .filter(col("c_custkey") <= 50)
      .groupBy("c_mktsegment")
      .agg(
        concat_ws(",", array_sort(collect_list(col("c_name")))).as("names"),
        count(lit(1)).as("n"))
      .orderBy("c_mktsegment")

  /** Bucketed co-located join — THE 100 TB layout decision for
    * repeated fact-to-fact joins: both tables written once with
    * `bucketBy(N, key).sortBy(key)` into the catalog, after which
    * every join on the key is planned WITHOUT a shuffle on either
    * side (bucket i joins bucket i locally; the spec asserts zero
    * ShuffleExchange in the join subplan). Amortizes the shuffle that
    * `join_inner_equi` pays per query into a one-time layout cost —
    * on a petabyte fact table that is the difference between a
    * re-shuffle per query and none. The bucketed copies live in the
    * session warehouse (the JVM's run directory); rewritten per
    * (session, sf) so stale
    * layouts can never leak across scale factors. */
  val joinBucketedColocated: QFn = (s, d) => {
    val suffix = d.replaceAll("[^a-zA-Z0-9]", "_")
    val (tl, to) = (s"bkt_lineitem_$suffix", s"bkt_orders_$suffix")
    if (!s.catalog.tableExists(tl) || !s.catalog.tableExists(to)) {
      // the in-memory catalog lives with the session, the warehouse
      // directory with the JVM (or a harness's work dir): clear any
      // orphan location from an earlier session before the CREATE, or
      // saveAsTable fails with LOCATION_ALREADY_EXISTS
      val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      Seq(tl, to).foreach { t =>
        graft.deleteTree(new java.io.File(wh, t).getPath)
      }
      Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(tl)
      Tables.orders(s, d).select("o_orderkey", "o_orderstatus")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(to)
    }
    bucketedJoinOnly(s, d)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsum2(col("l_quantity")).as("sum_qty"))
      .orderBy("o_orderstatus")
  }

  /** The shuffle-free join subplan (pre-aggregation) — exposed so the
    * spec can assert the absence of exchanges on the join itself
    * (the final 3-group aggregate legitimately shuffles). Assumes
    * [[joinBucketedColocated]] has created the tables. */
  def bucketedJoinOnly(s: SparkSession, d: String): DataFrame = {
    val suffix = d.replaceAll("[^a-zA-Z0-9]", "_")
    s.table(s"bkt_lineitem_$suffix")
      .join(s.table(s"bkt_orders_$suffix"), col("l_orderkey") === col("o_orderkey"))
  }

  /** TPC-H Q5-shape multiway join — the canonical OLAP star chain:
    * region → nation → {customer, supplier} → orders → lineitem, with
    * the classic "local supplier" equi-constraint (supplier and
    * customer in the same nation). The 100 TB plan this declares:
    * region/nation/supplier are BROADCAST (dims, no shuffle of the
    * facts on their account); orders is date-pruned at the scan before
    * its shuffle join with lineitem; the only big shuffles are the two
    * fact joins (lineitem⋈orders on orderkey, ⋈customer on custkey),
    * both on high-cardinality keys. Revenue uses the exact decimal sum
    * so the 1000-executor merge is order-independent. */
  val joinMultiway: QFn = (s, d) => {
    val asiaNations = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(s, d)
      .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"))
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp_ntz"))
      .select(col("o_orderkey"), col("o_custkey"))
    val supp = Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(dsum4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Two-phase salted aggregation — the skew-mitigation pattern.
    * `l_returnflag` has 3 values, so a naive groupBy puts a third of
    * 100 TB through 3 reducers; salting fans each hot key across 16
    * sub-keys (phase 1, partial sums per (key, salt)), then merges the
    * 48 small partials (phase 2). Exact decimal sums make the
    * two-phase split lossless — the oracle is the plain groupBy. */
  val aggSaltedSkew: QFn = (s, d) => {
    val salted = Tables.lineitem(s, d)
      .withColumn("salt", pmod(col("l_orderkey"), lit(16)))
      .groupBy("l_returnflag", "salt")
      .agg(count(lit(1)).as("pn"),
        sum(col("l_quantity").cast("decimal(30,2)")).as("pq"))
    salted.groupBy("l_returnflag")
      .agg(sum("pn").as("n"), sum("pq").cast("double").as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Spark 4 DataSketches HLL surface: per-day sketches of the user
    * column, re-aggregated with `hll_union_agg` — THE pattern for
    * distinct counting at 100 TB (per-partition sketches persisted
    * once, any rollup answered by merging kilobyte sketch blobs
    * instead of rescanning). ORACLED through its CONTRACT since r9
    * (the `agg_approx_quantile` pattern): the estimate itself is a
    * DataSketches-specific value DuckDB can't reproduce, so the
    * output carries the exact count plus two contract booleans —
    * `direct_err_ok` and `merged_err_ok` (each estimate within 10%
    * of exact; HLL at the default lgK=12 has RSE ≈ 1.6%, so 10% ≈
    * 6σ) — and the oracle emits literal TRUE for both: a hash
    * mismatch means the sketch surface broke its published error
    * bound. NOTE merged ≡ direct is deliberately NOT the contract:
    * it holds at small cardinalities, but the r9 sf0.1 gate caught
    * the union gadget estimating differently from a directly-built
    * sketch once the per-day sketches densify — a sketch union is
    * error-bounded, not bit-distributive. HllSketchSpec re-derives
    * the bounds independently so the in-operator check can't
    * self-certify. */
  val aggHllSketch: QFn = (s, d) => {
    val e = Tables.events(s, d)
    val daily = e.groupBy(to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = daily.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
    val direct = e.agg(
      hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est_direct"),
      countDistinct(col("user_id")).as("exact_users"))
    def errOk(est: org.apache.spark.sql.Column) =
      abs(est.cast("double") - col("exact_users").cast("double")) /
        col("exact_users").cast("double") < 0.1
    merged.crossJoin(direct)
      .select(col("exact_users"),
        errOk(col("est_direct")).as("direct_err_ok"),
        errOk(col("est_merged")).as("merged_err_ok"))
  }

  /** Shuffle-hash join, hint-forced: at 100 TB the planner knob that
    * skips the sort phase of sort-merge when one side is modest but
    * over the broadcast ceiling — hash-build per partition instead of
    * sorting both fact streams. ExtensionSpec asserts
    * ShuffledHashJoin is actually planned (the result itself is
    * join-strategy-invariant, which is what the oracle checks). */
  val joinShuffleHash: QFn = (s, d) =>
    Tables.orders(s, d).hint("shuffle_hash")
      .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsum2(col("l_quantity")).as("sum_qty"))
      .orderBy("o_orderstatus")

  /** Schema-evolution scan: two parquet generations (v2 added the
    * `value` column) merged at read time (`mergeSchema`) — the
    * add-a-column migration every long-lived lake table goes
    * through; old files surface NULLs. Oracled end-to-end against
    * the un-split table. */
  val scanSchemaEvolution: QFn = (s, d) => {
    val path = Tables.sinkPath(s, d, "schema_evo")
    val e = Tables.events(s, d)
    val split = to_date(col("ts")) < "2024-01-15"
    e.filter(split).select("event_id", "event_type")
      .write.mode("overwrite").parquet(s"$path/gen=1")
    e.filter(!split).select("event_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$path/gen=2")
    s.read.option("mergeSchema", "true").parquet(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(col("value")).as("n_with_value"),
        dsum2(coalesce(col("value"), lit(0.0))).as("sum_value"))
      .orderBy("event_type")
  }

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL
    * keys match each other instead of vanishing — the semantics a
    * dimension with an "unknown" bucket needs. Keys are derived
    * (every 7th size → NULL) since the generator data is
    * null-free; still a plain hash join (null hashes like any
    * value). */
  val joinNullSafe: QFn = (s, d) => {
    val p = Tables.part(s, d)
      .select(col("p_partkey"), nullif(col("p_size") % 7, lit(0)).as("k"))
    val dim = Tables.part(s, d).filter(col("p_partkey") <= 20)
      .select(col("p_partkey").as("d_key"),
        nullif(col("p_size") % 7, lit(0)).as("k2"))
    p.join(broadcast(dim), col("k") <=> col("k2"))
      .groupBy("d_key")
      .agg(count(lit(1)).as("n_matches"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_null_matches"))
      .orderBy("d_key")
  }

  /** Dynamic partition pruning: the fact side is laid out
    * partition-per-event_type (the 100 TB layout where a dim filter
    * must prune fact FILES, not fact rows); joining through a
    * filtered dim plants a runtime subquery filter on the fact scan
    * so non-qualifying partitions are never read. ExtensionSpec
    * asserts the `dynamicpruning` subquery in the scan. Fixed tmp
    * layout path, rewritten per run (overwrite). */
  val joinDpp: QFn = (s, d) => {
    val path = Tables.sinkPath(s, d, "dpp_facts")
    Tables.events(s, d)
      .select("event_id", "event_type", "value")
      .write.mode("overwrite").partitionBy("event_type").parquet(path)
    Etl.eventTypeTotals(dppJoinOnly(s, d))
  }

  /** The DPP join subplan (pre-aggregation), exposed for the spec.
    * Assumes [[joinDpp]] wrote the partitioned layout. */
  def dppJoinOnly(s: SparkSession, d: String): DataFrame = {
    val path = Tables.sinkPath(s, d, "dpp_facts")
    val facts = s.read.parquet(path)
    // dim: the per-type stats table, filtered — only 2 of 5 types
    // survive, so 3 of 5 fact partitions must be skipped at runtime
    val dim = Tables.events(s, d)
      .groupBy(col("event_type").as("dim_type")).agg(count(lit(1)).as("type_n"))
      .filter(col("dim_type").isin("purchase", "error"))
    facts.join(dim, col("event_type") === col("dim_type"))
  }

  /** Malformed-record handling on a text source — the ingest
    * robustness contract: a staged CSV of orders plus three injected
    * garbage lines, read twice — PERMISSIVE (corrupt rows surface in
    * `_corrupt_record`, good columns NULL) and DROPMALFORMED (bad
    * rows vanish). Output compares the three row counts; the oracle
    * derives them from the clean table (+ the known 3 bad lines).
    * At 100 TB this is the difference between one bad file poisoning
    * a backfill and a quarantine column you can audit. */
  val scanCsvMalformed: QFn = (s, d) => {
    val path = Tables.sinkPath(s, d, "malformed_csv")
    graft.deleteTree(path)
    Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").csv(path)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "part-bad.csv"),
      "garbage,not_a_number,xxx\nonly_one_field\n1,2,3,4,5,extra\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val schema = "o_orderkey LONG, o_custkey LONG, o_totalprice DOUBLE, _corrupt_record STRING"
    // Spark refuses a query that references ONLY the corrupt-record
    // column of a raw CSV scan (it would re-parse inconsistently);
    // the documented contract is to cache the parsed relation first.
    val permissive = s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record").csv(path)
      .cache()
    // cache here too: under column pruning a bare count references no
    // fields, nothing parses, and DROPMALFORMED silently counts raw
    // lines — materializing the full schema makes the drop real
    val dropped = s.read.schema("o_orderkey LONG, o_custkey LONG, o_totalprice DOUBLE")
      .option("mode", "DROPMALFORMED").csv(path)
      .cache()
    val a = permissive.agg(
      count(lit(1)).as("n_permissive"),
      count(col("_corrupt_record")).as("n_corrupt"))
    val b = dropped.agg(count(lit(1)).as("n_dropmalformed"))
    a.crossJoin(b)
  }

  /** Executed (adaptive-final) plan of the last [[joinSkewAqe]] run
    * as a live SparkPlan, so PlanAudit can run its structural checks
    * (countShuffles, smell scan) against the construction-time join
    * instead of the returned LocalTableScan.
    * Cleared at the start of every [[joinSkewAqe]] and by
    * [[takeSkewJoinExec]], so a live plan (with its materialized query
    * stages) is never pinned past its audit, and a run that fails
    * before capturing leaves nothing stale to grade. */
  private val lastSkewJoinExec =
    new java.util.concurrent.atomic.AtomicReference[org.apache.spark.sql.execution.SparkPlan]()

  /** The plan captured by the last [[joinSkewAqe]] run, at most once. */
  def takeSkewJoinExec(): Option[org.apache.spark.sql.execution.SparkPlan] =
    Option(lastSkewJoinExec.getAndSet(null))

  /** AQE skew-join under a deliberately skewed key distribution — the
    * runtime half of the skew story at BENCH scale (agg_salted_skew is
    * the author-side half; RelationalSpec's AQE test is the smoke-
    * scale proof). ~90% of lineitem lands on one join key, the dim
    * side is unique-keyed, broadcast is disabled, and detection
    * thresholds are set to data-scale sizes so `OptimizeSkewedJoin`
    * must split the hot reducer partition at runtime instead of one
    * straggler task dragging the stage — at 100 TB the difference
    * between a 5-minute and a 5-hour join. The skewed execution runs
    * INSIDE the conf scope (plan captured in [[lastSkewJoinExec]]);
    * its own ~11 collected rows return as a
    * local relation (r14) — no second execution under session confs,
    * and the conf restore runs before anything downstream executes,
    * so nothing leaks to later keys. PlanAudit audits the CAPTURED
    * construction plan for this key (shuffle budget + smells), since
    * the returned LocalTableScan has no structure to audit. */
  val joinSkewAqe: QFn = (s, d) => {
    lastSkewJoinExec.set(null)
    def build(): DataFrame = {
      val skewK = (c: Column) => when(c % 100 < 90, 0L).otherwise(c % 100)
      // repartition: a one-file parquet is one map task, and a skewed
      // reducer partition splits only at mapper-output granularity
      val fact = Tables.lineitem(s, d).repartition(8)
        .select(skewK(col("l_orderkey")).as("k"), col("l_quantity"))
      // localCheckpoint cuts the dim lineage (11 rows): OptimizeSkewedJoin
      // only matches SMJ whose children are Sort-over-ShuffleQueryStage,
      // and the dim agg's final HashAggregate in that position would
      // hide the stage and silently disable the skew split (a plain
      // .repartition(k) gets elided as redundant with the agg's own
      // exchange, so it can't restore the shape)
      val dim = Tables.orders(s, d)
        .groupBy(skewK(col("o_orderkey")).as("k"))
        .agg(count(lit(1)).as("o_n"))
        .localCheckpoint()
      fact.join(dim, "k")
        .groupBy("k")
        .agg(count(lit(1)).as("n"), dsum2(col("l_quantity")).as("sum_qty"),
          min("o_n").as("o_n"))
        .orderBy("k")
    }
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")
    val rows = GraftSession.withConfs(s, confs) {
      val skewed = build()
      val out = skewed.collect() // ~11 aggregated rows; runs the skew-split join
      lastSkewJoinExec.set(skewed.queryExecution.executedPlan)
      (out, skewed.schema)
    }
    // r14: return the skewed execution's OWN rows as a local relation
    // instead of lazily re-building the whole join under session confs
    // — the rebuild re-ran the fact scan + join + aggregate a second
    // time purely as conf hygiene (the result is 11 rows either way,
    // and the skew-split plan is the key's entire point). Conf scoping
    // is preserved: the restore above runs before anything downstream
    // executes. Measured at sf0.1 (subset bench, N=3): best-of-3
    // 2.11 s vs the committed quiet 2.51 s / same-session control
    // 3.72 s; hash-exact vs the oracle at sf0.01 + sf0.1 (the oracle
    // compares VALUES, and these are the values the skewed run
    // computed from the parquet inputs in THIS invocation — nothing
    // is memoized across invocations).
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(rows._1: _*)), rows._2)
  }

  /** Modern aggregate fill-ins: `count_if`, `bool_and`/`bool_or`,
    * interpolated `median` (≡ DuckDB `quantile_cont(0.5)`), and
    * `max_by` with a struct ordering key — the (value, event_id)
    * tiebreak makes argmax deterministic on ties, which the oracle
    * reproduces as a DESC/DESC window rank. */
  val aggModernFillins: QFn = (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        count_if(col("value") > 50).as("n_big"),
        bool_and(col("value") >= 0).as("all_nonneg"),
        bool_or(col("value") > 99).as("any_high"),
        // round retained: engines' median interpolation may differ
        // by an ulp; round(6) absorbs it (r9 round audit)
        round(median(col("value")), 6).as("med"),
        max_by(col("event_id"), struct(col("value"), col("event_id")))
          .as("argmax_id"))
      .orderBy("event_type")

  /** Bloom-filter join pre-reduction — the semi-join-pushdown pattern
    * a 100 TB fact⋈selective-dim join wants: build a compact bloom
    * over the dim keys (`stat.bloomFilter`, KBs for millions of keys),
    * broadcast it, and drop non-matching fact rows BEFORE the join
    * shuffle. False positives survive the filter but die in the exact
    * join, so the result is bit-identical to the plain join — fully
    * oracle-able — while the shuffle volume falls to ~selectivity.
    * (Spark's own InjectRuntimeFilter does this automatically only
    * under AQE-visible selective builds; this is the explicit form.) */
  val joinBloomPrefilter: QFn = (s, d) => {
    val dim = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val bf = dim.stat.bloomFilter("c_custkey", 100000L, 0.01)
    val bfB = s.sparkContext.broadcast(bf)
    val mightContain = udf((k: Long) => bfB.value.mightContainLong(k))
    Tables.orders(s, d)
      .filter(mightContain(col("o_custkey")))
      .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** Welch's two-sample t-test (unequal variances) — does BUILDING's
    * account-balance mean differ from MACHINERY's? One conditional-
    * aggregation pass computes both groups' (n, Σx, Σx²) with EXACT
    * decimal sums, so the moments are order-independent and the
    * downstream t-statistic / Welch–Satterthwaite dof arithmetic is
    * the same deterministic double sequence in both engines, so the
    * outputs floor-quantize via fq (r9 round audit: same-bits inputs
    * make floor engine-unambiguous). The statistical-testing shape a
    * data-quality pipeline runs per segment pair — one shuffle, O(1)
    * output, at any scale. */
  val aggTtestWelch: QFn = (s, d) => {
    def n(seg: String) =
      count(when(col("c_mktsegment") === seg, 1)).cast("double")
    def sx(seg: String) =
      dsum2(when(col("c_mktsegment") === seg, col("c_acctbal")))
    def sq(seg: String) =
      dsum4(when(col("c_mktsegment") === seg,
        col("c_acctbal") * col("c_acctbal")))
    Tables.customer(s, d)
      .agg(n("BUILDING").as("n1"), sx("BUILDING").as("s1"),
        sq("BUILDING").as("q1"), n("MACHINERY").as("n2"),
        sx("MACHINERY").as("s2"), sq("MACHINERY").as("q2"))
      .withColumn("v1", (col("q1") - col("s1") * col("s1") / col("n1"))
        / (col("n1") - 1))
      .withColumn("v2", (col("q2") - col("s2") * col("s2") / col("n2"))
        / (col("n2") - 1))
      .withColumn("se2", col("v1") / col("n1") + col("v2") / col("n2"))
      .select(
        col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        fq(col("s1") / col("n1"), 6).as("mean1"),
        fq(col("s2") / col("n2"), 6).as("mean2"),
        fq((col("s1") / col("n1") - col("s2") / col("n2"))
          / sqrt(col("se2")), 6).as("t_stat"),
        fq(col("se2") * col("se2") /
          ((col("v1") / col("n1")) * (col("v1") / col("n1")) / (col("n1") - 1)
            + (col("v2") / col("n2")) * (col("v2") / col("n2")) / (col("n2") - 1)),
          6).as("welch_dof"))
  }

  // ------------------------------------------------------------ registry

  /** Oracle of `join_theta_range` and `join_theta_prefix`. */
  private val thetaPairsSql: String =
    """SELECT a.p_brand AS p_brand, count(*) AS n_pairs,
           CAST(sum(CAST(b.p_size - a.p_size AS BIGINT)) AS DOUBLE) / count(*) AS avg_gap
         FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_size < b.p_size
         GROUP BY a.p_brand ORDER BY a.p_brand"""

  /** Oracle of `source_csv_roundtrip`, `source_json_roundtrip` and `source_orc_roundtrip`. */
  private val roundtripSql: String =
    s"""SELECT l_returnflag, count(*) AS n, ${sqlSum2("l_quantity")} AS sum_qty
          FROM lineitem WHERE l_orderkey % 50 = 0
          GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** Oracle of `join_asof` and `join_asof_native`. */
  val asofBackwardSql: String =
    """SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
           CAST((SELECT max(c.ts) FROM events c
             WHERE c.event_type = 'click' AND c.user_id = p.user_id AND c.ts <= p.ts) AS TIMESTAMP) AS last_click_ts
         FROM events p WHERE p.event_type = 'purchase' ORDER BY p.event_id"""

  /** Oracle of `join_asof_forward` and `join_asof_forward_native`. */
  val asofForwardSql: String =
    """SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
           (SELECT min(CAST(c.ts AS TIMESTAMP)) FROM events c
             WHERE c.event_type = 'click' AND c.user_id = p.user_id
               AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP)) AS next_click_ts
         FROM events p WHERE p.event_type = 'purchase' ORDER BY p.event_id"""

  /** Oracle of `join_asof_nearest` and `join_asof_nearest_native`. */
  val asofNearestSql: String =
    """WITH p AS (
           SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
             (SELECT max(CAST(c.ts AS TIMESTAMP)) FROM events c
               WHERE c.event_type = 'click' AND c.user_id = e.user_id
                 AND CAST(c.ts AS TIMESTAMP) <= CAST(e.ts AS TIMESTAMP)) AS prev_ts,
             (SELECT min(CAST(c.ts AS TIMESTAMP)) FROM events c
               WHERE c.event_type = 'click' AND c.user_id = e.user_id
                 AND CAST(c.ts AS TIMESTAMP) >= CAST(e.ts AS TIMESTAMP)) AS next_ts
           FROM events e WHERE event_type = 'purchase')
         SELECT event_id, user_id, ts,
           CASE WHEN prev_ts IS NULL THEN next_ts
                WHEN next_ts IS NULL THEN prev_ts
                WHEN epoch_us(ts) - epoch_us(prev_ts)
                  <= epoch_us(next_ts) - epoch_us(ts) THEN prev_ts
                ELSE next_ts END AS near_click_ts
         FROM p ORDER BY event_id"""

  /** Oracle of `join_asof_tolerance` and `join_asof_tolerance_native`. */
  val asofToleranceSql: String =
    """SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
           (SELECT max(CAST(c.ts AS TIMESTAMP)) FROM events c
             WHERE c.event_type = 'click' AND c.user_id = p.user_id
               AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
               AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR)
             AS last_click_1h
         FROM events p WHERE p.event_type = 'purchase' ORDER BY p.event_id"""

  /** Oracle of `join_interval` and `join_range_bucketed`. */
  val intervalJoinSql: String =
    s"""SELECT o_orderpriority, count(*) AS n, ${sqlSum2("l_quantity")} AS sum_qty
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey
            AND l_shipdate >= o_orderdate AND l_shipdate < o_orderdate + INTERVAL 30 DAY
          GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  val specs: Seq[KeySpec] = Seq(
    KeySpec.batch("scan_parquet", scanParquet, shuffles = 1,
      s"""SELECT count(*) AS n_rows, ${sqlSum2("l_quantity")} AS sum_qty FROM lineitem"""),
    KeySpec.batch("scan_pruned", scanPruned, shuffles = 1,
      "SELECT l_orderkey, l_quantity FROM lineitem ORDER BY 1, 2"),
    KeySpec.batch("scan_filter_pushdown", scanFilterPushdown, shuffles = 2,
      s"""SELECT l_returnflag, count(*) AS n, ${sqlSum2("l_extendedprice")} AS sum_price
          FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'
          GROUP BY l_returnflag ORDER BY l_returnflag""")
      .pushdownRequired("the key exists to prove parquet filter pushdown"),
    KeySpec.batch("source_csv_roundtrip", sourceCsvRoundtrip, shuffles = 2, roundtripSql)
      .constructionJobsOk("stages the CSV it then reads"),
    KeySpec.batch("source_json_roundtrip", sourceJsonRoundtrip, shuffles = 2, roundtripSql)
      .constructionJobsOk("stages the JSON it then reads"),
    KeySpec.batch("source_orc_roundtrip", sourceOrcRoundtrip, shuffles = 2, roundtripSql)
      .constructionJobsOk("stages the ORC it then reads"),
    KeySpec.batch("source_text_roundtrip", sourceTextRoundtrip, shuffles = 1,
      """SELECT count(*) AS n_lines, CAST(sum(len(text)) AS BIGINT) AS n_chars
         FROM documents""")
      .constructionJobsOk("stages the text file it then reads"),
    KeySpec.batch("project_arith", projectArith, shuffles = 1,
      """SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS disc_price,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
           l_quantity * l_extendedprice AS qty_price
         FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
    KeySpec.batch("filter_conj", filterConj, shuffles = 1,
      """SELECT * FROM part
         WHERE (p_size BETWEEN 5 AND 20 AND p_type IN ('ECONOMY','SMALL')
                AND p_name LIKE '%bolt%')
            OR (NOT p_brand = 'Brand#1' AND p_retailprice > 910.0)
         ORDER BY p_partkey"""),
    KeySpec.batch("filter_null_semantics", filterNullSemantics, shuffles = 1,
      """SELECT count(CASE WHEN dn IS NULL THEN 1 END) AS n_null,
           count(CASE WHEN dn IS NOT NULL THEN 1 END) AS n_not_null,
           count(CASE WHEN dn IS NOT DISTINCT FROM 0.05 THEN 1 END) AS n_nullsafe_eq,
           count(CASE WHEN dn IS NOT DISTINCT FROM CAST(NULL AS DOUBLE) THEN 1 END) AS n_nullsafe_null
         FROM (SELECT CASE WHEN l_discount = 0.0 THEN NULL ELSE l_discount END AS dn FROM lineitem)"""),
    KeySpec.batch("join_inner_equi", joinInnerEqui, shuffles = 2,
      s"""SELECT c_mktsegment, count(*) AS n_orders, ${sqlSum2("o_totalprice")} AS sum_total
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    KeySpec.batch("join_broadcast", joinBroadcast, shuffles = 2,
      s"""SELECT p_brand, count(*) AS n, ${sqlSum4("l_extendedprice * (1 - l_discount)")} AS revenue
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY p_brand ORDER BY p_brand"""),
    KeySpec.batch("join_left_right_full", joinOuter, shuffles = 4,
      s"""WITH l AS (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 3 <> 0),
            r AS (SELECT o_custkey, count(*) AS n_orders, ${sqlSum2("o_totalprice")} AS sum_price
                  FROM orders WHERE o_custkey % 3 <> 1 GROUP BY o_custkey)
          SELECT 'left' AS jt, coalesce(c_custkey, o_custkey) AS custkey, c_mktsegment, n_orders, sum_price
            FROM l LEFT JOIN r ON c_custkey = o_custkey
          UNION ALL
          SELECT 'right', coalesce(c_custkey, o_custkey), c_mktsegment, n_orders, sum_price
            FROM l RIGHT JOIN r ON c_custkey = o_custkey
          UNION ALL
          SELECT 'full', coalesce(c_custkey, o_custkey), c_mktsegment, n_orders, sum_price
            FROM l FULL JOIN r ON c_custkey = o_custkey
          ORDER BY jt, custkey"""),
    KeySpec.batch("join_semi_anti", joinSemiAnti, shuffles = 1,
      """SELECT 'semi' AS jt, c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
         UNION ALL
         SELECT 'anti', c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
         ORDER BY jt, c_custkey"""),
    KeySpec.batch("join_theta_range", joinThetaRange, shuffles = 2, thetaPairsSql),
    KeySpec.batch("join_theta_prefix", joinThetaPrefix, shuffles = 3,
      // deliberately the NAIVE pair enumeration: the oracle verifies the
      // prefix-sum rewrite against the pair semantics it replaces
      thetaPairsSql),
    KeySpec.batch("join_cross", joinCross, shuffles = 1,
      "SELECT r_name, n_name FROM region CROSS JOIN nation ORDER BY r_name, n_name")
      .crossJoinOk("the operator IS a cross product"),
    KeySpec.batch("join_asof", joinAsof, shuffles = 2, asofBackwardSql),
    KeySpec.batch("join_asof_forward", joinAsofForward, shuffles = 2, asofForwardSql),
    KeySpec.batch("join_asof_nearest", joinAsofNearest, shuffles = 2, asofNearestSql),
    KeySpec.batch("join_asof_tolerance", joinAsofTolerance, shuffles = 2, asofToleranceSql),
    KeySpec.batch("join_interval", joinInterval, shuffles = 2, intervalJoinSql),
    KeySpec.batch("agg_pricing_summary", aggPricingSummary, shuffles = 2,
      s"""SELECT l_returnflag, l_linestatus,
            ${sqlSum2("l_quantity")} AS sum_qty,
            ${sqlSum2("l_extendedprice")} AS sum_base_price,
            ${sqlSum4("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
            ${sqlSum6("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
            ${sqlAvg2("l_quantity")} AS avg_qty,
            ${sqlAvg2("l_extendedprice")} AS avg_price,
            ${sqlAvg2("l_discount")} AS avg_disc,
            count(*) AS count_order
          FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
          GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""),
    KeySpec.batch("agg_distinct", aggDistinct, shuffles = 3,
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
           CAST(sum(DISTINCT CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_dist_qty,
           count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    KeySpec.batch("agg_approx_distinct", aggApproxDistinct,
      // r8 portable HLL: distinct pre-agg + register fold + per-group
      // harmonic sum + the exact-count twin column (2-phase distinct)
      shuffles = 6,
      // the portable HLL twin: same md5 register slicing, same exact-
      // integer harmonic denominator, same literal-for-literal double
      // chain — see Sketches.aggApproxDistinctHll
      """WITH pairs AS (SELECT DISTINCT event_type, user_id::VARCHAR AS k FROM events),
         hashed AS (SELECT event_type,
             ('0x' || substr(md5(k), 1, 8))::UBIGINT % 512 AS idx,
             ('0x' || substr(md5(k), 9, 10))::UBIGINT AS v
           FROM pairs),
         ranked AS (SELECT event_type, idx,
             CASE WHEN v = 0 THEN 41 ELSE 41 - length(bin(v)) END AS rank
           FROM hashed),
         regs AS (SELECT event_type, idx, max(rank) AS mj
           FROM ranked GROUP BY event_type, idx),
         agg AS (SELECT event_type,
             CAST(sum(1::BIGINT << (41 - mj)) AS BIGINT) AS s_present,
             count(*) AS n_present
           FROM regs GROUP BY event_type),
         est AS (SELECT event_type,
             512 - n_present AS v0,
             0.7213 / (1.0 + 1.079 / 512.0) * 262144.0 * 2199023255552.0
               / CAST(s_present + (512 - n_present) * (1::BIGINT << 41) AS DOUBLE) AS raw
           FROM agg)
         SELECT e.event_type,
           round(CASE WHEN raw <= 1280.0 AND v0 > 0
                 THEN 512.0 * ln(512.0 / CAST(v0 AS DOUBLE))
                 ELSE raw END, 4) AS est_users,
           x.exact_users
         FROM est e JOIN (SELECT event_type, count(DISTINCT user_id) AS exact_users
                          FROM events GROUP BY event_type) x
           ON e.event_type = x.event_type
         ORDER BY e.event_type"""),
    KeySpec.batch("agg_rollup_cube_sets", aggRollupCubeSets, shuffles = 2,
      s"""SELECT n_name, c_mktsegment, count(*) AS n, ${sqlSum2("c_acctbal")} AS sum_bal,
            CAST(GROUPING(n_name) AS BIGINT) AS g_nation,
            CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_segment
          FROM customer JOIN nation ON c_nationkey = n_nationkey
          GROUP BY CUBE (n_name, c_mktsegment)
          ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST"""),
    KeySpec.batch("agg_stats", aggStats, shuffles = 8,
      s"""SELECT round(stddev_samp(l_extendedprice), 2) AS std_price,
            round(var_samp(l_extendedprice), 2) AS var_price,
            round(corr(l_extendedprice, l_quantity), 6) AS corr_pq,
            round(covar_samp(l_extendedprice, l_quantity), 2) AS covar_pq,
            round(CASE WHEN count(*) > 0 THEN
              sqrt(CAST(count(*) AS DOUBLE))
                * sum(pow(l_extendedprice - (SELECT avg(l_extendedprice) FROM lineitem), 3))
                / pow(sum(pow(l_extendedprice - (SELECT avg(l_extendedprice) FROM lineitem), 2)), 1.5)
              END, 6) AS skew_price,
            round(CAST(count(*) AS DOUBLE)
                * sum(pow(l_extendedprice - (SELECT avg(l_extendedprice) FROM lineitem), 4))
                / pow(sum(pow(l_extendedprice - (SELECT avg(l_extendedprice) FROM lineitem), 2)), 2)
              - 3, 6) AS kurt_price,
            round(quantile_cont(l_extendedprice, 0.5), 3) AS median_price,
            ${sqlSum2("l_extendedprice")} AS s1,
            CAST(floor(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,4)))) AS BIGINT) AS s2_int
          FROM lineitem""")
      .crossJoinOk("the GLOBAL Quantiles.exactQuantiles path: the constant pseudo-group " +
        "key folds away, so its broadcast joins (1-row stats, <=nShards offset rows, " +
        "<=|qs| position rows) surface as BNLJ — every build side is O(1); the grouped " +
        "agg_percentile_exact stays a hash join"),
    KeySpec.batch("sort_multi", sortMulti, shuffles = 1,
      """SELECT o_orderkey, nullif(o_orderpriority, '3-MEDIUM') AS pr, o_totalprice
         FROM orders ORDER BY pr ASC NULLS FIRST, o_totalprice DESC, o_orderkey"""),
    KeySpec.batch("limit_topk", limitTopk, shuffles = 0,
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""),
    KeySpec.batch("set_union_all", setOps, shuffles = 4,
      """WITH a AS (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 2 = 0),
           b AS (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 3 = 0)
         SELECT 'union_all' AS op, c_custkey, c_mktsegment FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
         UNION ALL
         SELECT 'union_distinct', c_custkey, c_mktsegment FROM (SELECT * FROM a UNION SELECT * FROM b)
         UNION ALL
         SELECT 'intersect', c_custkey, c_mktsegment FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
         UNION ALL
         SELECT 'except', c_custkey, c_mktsegment FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
         ORDER BY op, c_custkey"""),
    KeySpec.batch("agg_pivot", aggPivot, shuffles = 3, {
      val cols = Segments.map(seg =>
        s"""CAST(sum(CASE WHEN c_mktsegment = '$seg' THEN CAST(c_acctbal AS DECIMAL(30,2)) END) AS DOUBLE) AS "$seg"""")
        .mkString(",\n           ")
      s"""SELECT n_name,
           $cols
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name ORDER BY n_name"""
    }),
    KeySpec.batch("agg_sessionize", aggSessionize, shuffles = 2,
      """WITH t AS (
           SELECT user_id, ts, event_id,
             lag(epoch_us(CAST(ts AS TIMESTAMP)))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
           FROM events),
         marked AS (
           SELECT user_id, ts, event_id,
             CASE WHEN prev_us IS NULL
                    OR epoch_us(CAST(ts AS TIMESTAMP)) - prev_us > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
           FROM t),
         sess AS (
           SELECT user_id, ts,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
           FROM marked)
         SELECT user_id, sess_id, count(*) AS n_events,
           min(ts) AS sess_start, max(ts) AS sess_end
         FROM sess GROUP BY user_id, sess_id ORDER BY user_id, sess_id"""),
    KeySpec.batch("agg_retention_cohort", aggRetentionCohort, shuffles = 5,
      """WITH e AS (
           SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk
           FROM events),
         f AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY user_id),
         a AS (SELECT DISTINCT user_id, wk FROM e)
         SELECT cohort,
           CAST(date_diff('day', CAST(cohort AS DATE), CAST(wk AS DATE)) // 7 AS INT)
             AS week_offset,
           count(DISTINCT a.user_id) AS n_users
         FROM a JOIN f USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2"""),
    KeySpec.batch("agg_approx_quantile", aggApproxQuantile,
      // +2 since r9: the oracle'd rank_ok contract column adds a
      // 3-group rank-count aggregation (grouped count + its exchange)
      // on top of the sketch agg and the exact-twin two-pass
      shuffles = 10, {
      // the portable columns + the literal-TRUE contract bit (see the
      // aggApproxQuantile scaladoc: hash mismatch ⇔ GK bound violated)
      val rows = Seq(0.25, 0.5, 0.75).map(q =>
        s"""SELECT CAST($q AS DOUBLE) AS q,
             round(quantile_cont(l_extendedprice, $q), 6) AS exact_q,
             count(*) AS n, true AS rank_ok FROM lineitem""")
      rows.mkString("", "\n UNION ALL\n ", "\n ORDER BY q")
    })
      .crossJoinOk("agg_stats' global exactQuantiles path — O(1) build sides"),
    KeySpec.batch("agg_quantile_twopass", aggQuantileTwopass, shuffles = 8, {
      // quantile_cont shares the (n−1)·q linear-interpolation
      // definition with the sharded two-pass; round(6) absorbs the
      // final-interpolation ulp like agg_percentile_exact
      val rows = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99).map(q =>
        s"""SELECT CAST($q AS DOUBLE) AS q,
             round(quantile_cont(l_extendedprice, $q), 6) AS exact_q,
             count(*) AS n FROM lineitem""")
      rows.mkString("", "\n UNION ALL\n ", "\n ORDER BY q")
    })
      .crossJoinOk("agg_stats' global exactQuantiles path — O(1) build sides"),
    KeySpec.batch("subquery_family", subqueryFamily, shuffles = 2,
      """SELECT o_orderkey, o_totalprice
         FROM orders o
         WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
           AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
           AND EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
         ORDER BY o_orderkey"""),
    KeySpec.batch("agg_ttest_welch", aggTtestWelch, shuffles = 1,
      // identical moment extraction (exact decimal sums) and the same
      // double-arithmetic t / Welch-dof formulas, term for term
      s"""WITH m AS (SELECT
           CAST(count(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 END) AS DOUBLE) AS n1,
           CAST(sum(CAST(CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal END AS DECIMAL(30,2))) AS DOUBLE) AS s1,
           CAST(sum(CAST(CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal * c_acctbal END AS DECIMAL(30,4))) AS DOUBLE) AS q1,
           CAST(count(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 END) AS DOUBLE) AS n2,
           CAST(sum(CAST(CASE WHEN c_mktsegment = 'MACHINERY' THEN c_acctbal END AS DECIMAL(30,2))) AS DOUBLE) AS s2,
           CAST(sum(CAST(CASE WHEN c_mktsegment = 'MACHINERY' THEN c_acctbal * c_acctbal END AS DECIMAL(30,4))) AS DOUBLE) AS q2
         FROM customer),
         v AS (SELECT *,
           (q1 - s1 * s1 / n1) / (n1 - 1) AS v1,
           (q2 - s2 * s2 / n2) / (n2 - 1) AS v2 FROM m),
         w AS (SELECT *, v1 / n1 + v2 / n2 AS se2 FROM v)
         SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           ${sqlFq("s1 / n1", 6)} AS mean1, ${sqlFq("s2 / n2", 6)} AS mean2,
           ${sqlFq("(s1 / n1 - s2 / n2) / sqrt(se2)", 6)} AS t_stat,
           ${sqlFq("se2 * se2 / ((v1 / n1) * (v1 / n1) / (n1 - 1) + (v2 / n2) * (v2 / n2) / (n2 - 1))", 6)} AS welch_dof
         FROM w"""),
    KeySpec.batch("agg_modern_fillins", aggModernFillins, shuffles = 2,
      """WITH am AS (
           SELECT event_type, event_id AS argmax_id,
             row_number() OVER (PARTITION BY event_type
               ORDER BY value DESC, event_id DESC) AS rn
           FROM events)
         SELECT e.event_type,
           count(*) FILTER (WHERE value > 50) AS n_big,
           bool_and(value >= 0) AS all_nonneg,
           bool_or(value > 99) AS any_high,
           round(median(value), 6) AS med,
           min(am.argmax_id) AS argmax_id
         FROM events e
         JOIN (SELECT event_type, argmax_id FROM am WHERE rn = 1) am
           USING (event_type)
         GROUP BY e.event_type ORDER BY e.event_type"""),
    KeySpec.batch("join_bloom_prefilter", joinBloomPrefilter, shuffles = 2,
      s"""SELECT o_orderpriority, count(*) AS n,
            ${sqlSum2("o_totalprice")} AS sum_price
          FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE c_mktsegment = 'BUILDING'
          GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      .constructionJobsOk("builds the bounded bloom filter from the dim"),
    KeySpec.batch("agg_hll_sketch", aggHllSketch, shuffles = 4,
      // contract oracle (see aggHllSketch scaladoc): literal TRUE for
      // the two error-bound bits (direct_err_ok / merged_err_ok — union
      // distributivity is deliberately NOT the contract; it breaks once
      // per-day sketches densify) — hash mismatch ⇔ the DataSketches
      // surface broke its error contract
      """SELECT count(DISTINCT user_id) AS exact_users,
           true AS direct_err_ok, true AS merged_err_ok
         FROM events""")
      .crossJoinOk("crosses 1-row aggregates — O(1) both sides"),
    KeySpec.batch("scan_csv_malformed", scanCsvMalformed, shuffles = 2,
      """SELECT count(*) + 3 AS n_permissive,
           CAST(3 AS BIGINT) AS n_corrupt,
           count(*) AS n_dropmalformed
         FROM orders""")
      .crossJoinOk("crosses 1-row aggregates — O(1) both sides")
      .constructionJobsOk("stages the malformed CSV it then reads"),
    KeySpec.batch("join_null_safe", joinNullSafe, shuffles = 2,
      """WITH p AS (
           SELECT p_partkey, nullif(p_size % 7, 0) AS k FROM part),
         dim AS (
           SELECT p_partkey AS d_key, nullif(p_size % 7, 0) AS k2
           FROM part WHERE p_partkey <= 20)
         SELECT d_key, count(*) AS n_matches,
           CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_matches
         FROM p JOIN dim ON k IS NOT DISTINCT FROM k2
         GROUP BY d_key ORDER BY d_key"""),
    KeySpec.batch("join_dpp", joinDpp, shuffles = 3,
      s"""WITH dim AS (
           SELECT event_type AS dim_type, count(*) AS type_n
           FROM events GROUP BY event_type)
         SELECT e.event_type, count(*) AS n,
           ${sqlSum2("e.value")} AS sum_value
         FROM events e JOIN dim ON e.event_type = dim.dim_type
         WHERE dim.dim_type IN ('purchase', 'error')
         GROUP BY e.event_type ORDER BY e.event_type""")
      .constructionJobsOk("writes the partitioned fact layout the DPP scan prunes")
      .pushdownRequired("the key exists to prove the dynamic partition filter reaches " +
        "the fact scan"),
    KeySpec.batch("join_shuffle_hash", joinShuffleHash, shuffles = 4,
      """SELECT o_orderstatus, count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
    KeySpec.batch("join_skew_aqe", joinSkewAqe,
      // r15: the audited plan is now the CAPTURED construction-time
      // skew join (see constructionPlan) — broadcast is disabled inside
      // its conf scope, so the dim side shuffles too: fact repartition +
      // both SMJ sides + final sort = 4 (the old 3 graded the lazy
      // session-conf rebuild, where the dim folded to a broadcast)
      shuffles = 4,
      s"""WITH f AS (
            SELECT CASE WHEN l_orderkey % 100 < 90 THEN 0
                        ELSE l_orderkey % 100 END AS k, l_quantity
            FROM lineitem),
          dm AS (
            SELECT CASE WHEN o_orderkey % 100 < 90 THEN 0
                        ELSE o_orderkey % 100 END AS k, count(*) AS o_n
            FROM orders GROUP BY 1)
          SELECT k, count(*) AS n, ${sqlSum2("l_quantity")} AS sum_qty,
            min(o_n) AS o_n
          FROM f JOIN dm USING (k)
          GROUP BY k ORDER BY k""")
      .constructionJobsOk("stages the skewed fact layout the AQE split needs"),
    KeySpec.batch("scan_schema_evolution", scanSchemaEvolution, shuffles = 2,
      """SELECT event_type, count(*) AS n,
           count(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-15' THEN 1 END) AS n_with_value,
           CAST(sum(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-15'
                         THEN CAST(value AS DECIMAL(30,2))
                         ELSE CAST(0.0 AS DECIMAL(30,2)) END) AS DOUBLE) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type""")
      .constructionJobsOk("stages two schema generations, then " +
        "mergeSchema-reads them (footer inference is the semantics here)"),
    KeySpec.batch("join_range_bucketed", joinRangeBucketed, shuffles = 5,
      // oracle = the straightforward range join; results must be
      // identical, which proves the bucketing rewrite is lossless
      intervalJoinSql),
    KeySpec.batch("join_bucketed_colocated", joinBucketedColocated, shuffles = 2,
      s"""SELECT o_orderstatus, count(*) AS n, ${sqlSum2("l_quantity")} AS sum_qty
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          GROUP BY o_orderstatus ORDER BY o_orderstatus""")
      .constructionJobsOk("saves both bucketed tables before the join"),
    KeySpec.batch("join_multiway", joinMultiway, shuffles = 3,
      s"""SELECT n_name, ${sqlSum4("l_extendedprice * (1 - l_discount)")} AS revenue
          FROM region
          JOIN nation ON n_regionkey = r_regionkey
          JOIN customer ON c_nationkey = n_nationkey
          JOIN orders ON o_custkey = c_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
          JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
          WHERE r_name = 'ASIA'
            AND o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1997-01-01'
          GROUP BY n_name ORDER BY revenue DESC, n_name"""),
    KeySpec.batch("agg_percentile_exact", aggPercentileExact, shuffles = 9,
      """SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 6) AS q25,
           round(quantile_cont(l_quantity, 0.5), 6) AS q50,
           round(quantile_cont(l_quantity, 0.75), 6) AS q75,
           round(quantile_cont(l_quantity, 0.9), 6) AS q90,
           count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    KeySpec.batch("agg_salted_skew", aggSaltedSkew, shuffles = 3,
      s"""SELECT l_returnflag, count(*) AS n, ${sqlSum2("l_quantity")} AS sum_qty
          FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    KeySpec.batch("set_except_intersect", setExceptIntersect, shuffles = 3,
      """SELECT o_custkey, 'final_only' AS tag FROM (
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
           EXCEPT
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
         UNION ALL
         SELECT o_custkey, 'both' AS tag FROM (
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
           INTERSECT
           SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
         ORDER BY tag, o_custkey"""),
    KeySpec.batch("unpivot_melt", unpivotMelt, shuffles = 1,
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
         ORDER BY l_orderkey, l_linenumber, measure"""),
    KeySpec.batch("agg_string_agg", aggStringAgg, shuffles = 2,
      """SELECT c_mktsegment,
           string_agg(c_name, ',' ORDER BY c_name) AS names,
           count(*) AS n
         FROM customer WHERE c_custkey <= 50
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""))
}
