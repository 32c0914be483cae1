package graft.operators

import org.apache.spark.sql.functions._

import graft._
import graft.Det._

/** TPC-H composite analytics queries (r4 verdict item 7): multi-join +
  * aggregate + top-k plans, exercising several registry operators
  * INSIDE one optimizer run — join reorder, filter pushdown through
  * joins, partial aggregation under a final top-k, decorrelated
  * subqueries — rather than one operator per key. With Q1
  * (`agg_pricing_summary`) the registry covers 17 of 22 TPC-H queries:
  * the testdata ships no `partsupp` and trims several columns
  * (`l_shipmode`/`l_commitdate`/`l_receiptdate`, `p_container`,
  * `c_phone`, comments), so Q2/Q9/Q11/Q16/Q20 are out of scope by data
  * contract, and the queries here keep each original's PLAN SHAPE —
  * the optimizer structure being exercised — while adapting predicates
  * to shipped columns.
  *
  * Scale notes (the shapes these plans must keep at 100 TB):
  *  - Fact-fact joins (lineitem ⋈ orders) shuffle on the join key;
  *    filters are pushed below the join on BOTH sides first.
  *  - Dims that are constant-size (nation: 25 rows at any scale) or
  *    filtered-tiny get explicit broadcasts; SF-proportional dims
  *    (customer, supplier) stay unhinted, so AQE picks broadcast only
  *    while they fit.
  *  - Every aggregation is algebraic (exact decimal sums) so partial
  *    aggregation runs map-side before the one shuffle per agg.
  *  - Top-k is `TakeOrderedAndProject` — never a global sort.
  *  - Scalar subqueries become broadcast one-row joins (never a driver
  *    collect); correlated subqueries are decorrelated into one
  *    aggregation + one join that reuse the same key partitioning.
  */
object Composite {

  private def ts(lit0: String) = lit(lit0).cast("timestamp_ntz")

  /** TPC-H Q3 shape — shipping priority: revenue of not-yet-shipped
    * orders for one market segment, top-10 by revenue. Plan: segment
    * filter into customer scan, date filters into orders/lineitem
    * scans, lineitem ⋈ orders on the order key, broadcast customer
    * dim, one grouped agg, top-10. */
  val q3ShippingPriority: QFn = (s, d) => {
    val cutoff = ts("1998-06-01")
    val cust = Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") > cutoff)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(dsum4(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q10 shape — returned-item revenue loss: per-customer
    * revenue of returned lineitems in one order quarter, with the
    * nation dim attached, top-20 customers. Nation (25 rows at every
    * scale factor) is explicitly broadcast. */
  val q10ReturnedItems: QFn = (s, d) => {
    val li = Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= ts("1997-01-01") &&
        col("o_orderdate") < ts("1997-04-01"))
      .select("o_orderkey", "o_custkey")
    val cust = Tables.customer(s, d)
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val nat = Tables.nation(s, d).select("n_nationkey", "n_name")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(dsum4(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q18 shape — large-volume orders: orders whose lineitem
    * quantity total exceeds a threshold, joined back to orders +
    * customer, top-100 by order value. The quantity aggregation and
    * the orders join share the order-key partitioning, so the HAVING
    * filter costs no extra shuffle over the agg that produced it. */
  val q18LargeOrders: QFn = (s, d) => {
    val big = Tables.lineitem(s, d)
      .select("l_orderkey", "l_quantity")
      .groupBy("l_orderkey")
      .agg(dsum2(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 150.0)
    val ord = Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val cust = Tables.customer(s, d).select("c_custkey", "c_name")
    big.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q5 shape — local supplier volume: revenue from lineitems
    * where the ordering customer and the supplier sit in the SAME
    * nation, for one region and one order year, grouped per nation.
    * The deepest join pipeline in the registry (6 tables): the one
    * fact-fact shuffle is lineitem ⋈ orders on the order key; nation
    * and region are broadcast (25 / 5 rows at ANY scale); the
    * same-nation constraint rides the supplier join as an extra
    * equi-key (c_nationkey = s_nationkey) rather than a post-join
    * filter, so it prunes DURING the probe. Supplier and customer are
    * SF-proportional, so neither carries a broadcast hint — AQE picks
    * broadcast while the dim fits under the threshold, plain shuffle
    * join beyond that; nothing in the plan pins a build side that
    * could not be built at 100 TB. */
  val q5LocalSupplierVolume: QFn = (s, d) => {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= ts("1997-01-01") &&
        col("o_orderdate") < ts("1998-01-01"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val nat = Tables.nation(s, d)
      .select("n_nationkey", "n_name", "n_regionkey")
    val reg = Tables.region(s, d)
      .filter(col("r_name") === "ASIA").select("r_regionkey")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp,
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(dsum4(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q7 shape — volume shipping: yearly revenue flowing in BOTH
    * directions between two nations (supplier in one, customer in the
    * other). The nation-pair constraint is an OR of two conjunctions
    * over two DIFFERENT broadcast copies of the nation dim — the plan
    * shape that catches an optimizer treating dim aliases as one
    * relation. Both nation joins broadcast (25 rows at any scale);
    * supplier is SF-proportional so it is left unhinted for AQE;
    * the OR pair filter evaluates after both names are attached, on
    * rows already cut to the two nations by per-side IN filters that
    * DO push into the joins. Year comes off the shipdate inside the
    * aggregation — no pre-join projection is lost. */
  val q7VolumeShipping: QFn = (s, d) => {
    val pair = Seq("NATION_3", "NATION_7")
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= ts("1996-01-01") &&
        col("l_shipdate") < ts("1998-01-01"))
      .select("l_orderkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_discount")
    val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey")
    val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val n1 = Tables.nation(s, d)
      .filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d)
      .filter(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
      .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(dsum4(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q8 shape — national market share: of all PROMO-part revenue
    * sold into one customer region per order year, the fraction
    * supplied from one nation. The widest join in the registry
    * (7 tables, lineitem ⋈ orders the only fact-fact shuffle; part
    * filtered-then-broadcast, nation×2/region broadcast, supplier
    * unhinted for AQE — it is SF-proportional) and
    * the conditional-share aggregation on top: numerator and
    * denominator are both exact decimal sums over the SAME rows
    * (sum(CASE nation THEN volume END) / sum(volume)), so the share
    * needs no second pass and no join of two aggregates — one grouped
    * aggregation, map-side partials, then a single IEEE division that
    * both engines compute identically. */
  val q8MarketShare: QFn = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey", "l_suppkey",
        "l_extendedprice", "l_discount")
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= ts("1996-01-01") &&
        col("o_orderdate") < ts("1998-01-01"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val prt = Tables.part(s, d)
      .filter(col("p_type") === "PROMO").select("p_partkey")
    val supp = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
    val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    val cnat = Tables.nation(s, d)
      .select(col("n_nationkey").as("cn_key"), col("n_regionkey"))
    val reg = Tables.region(s, d)
      .filter(col("r_name") === "EUROPE").select("r_regionkey")
    val snat = Tables.nation(s, d)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(prt), col("l_partkey") === col("p_partkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(cnat), col("c_nationkey") === col("cn_key"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(snat), col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        (dsum4(when(col("supp_nation") === "NATION_3", vol).otherwise(lit(0.0))) /
          dsum4(vol)).as("mkt_share"),
        dsum4(vol).as("total_volume"))
      .orderBy("o_year")
  }

  /** TPC-H Q21 shape — suppliers who kept orders waiting: late
    * lineitems (shipped > 60 days after the order date, standing in
    * for the commit/receipt lateness of the full schema) of finished
    * multi-supplier orders where that supplier was the ONLY late one.
    * The classic correlated EXISTS / NOT-EXISTS pair is re-expressed
    * as ONE grouped aggregation per order key (distinct suppliers,
    * distinct LATE suppliers; the l1 row qualifies iff n_supp ≥ 2 and
    * n_late_supp = 1 — equivalence is exact because a late l1 makes
    * its own supplier the unique late one), so the plan runs a single
    * fact-fact shuffle on the order key instead of two correlated
    * lineitem re-scans, and the late-row join back to qualifying
    * orders reuses that same partitioning. Supplier is
    * SF-proportional: no broadcast hint, AQE decides. */
  val q21SuppliersWaiting: QFn = (s, d) => {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
    val qual = li.groupBy("o_orderkey")
      .agg(countDistinct("l_suppkey").as("n_supp"),
        countDistinct(when(col("late"), col("l_suppkey"))).as("n_late_supp"))
      .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
      .select(col("o_orderkey").as("q_orderkey"))
    val waits = li.filter(col("late"))
      .join(qual, col("o_orderkey") === col("q_orderkey"))
      .groupBy("l_suppkey").agg(count(lit(1)).as("numwait"))
    waits.join(Tables.supplier(s, d).select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .select("s_name", "numwait")
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }


  /** TPC-H Q4 shape — order-priority checking: count orders of one
    * quarter that had at least one problem line (shipped > 30 days
    * after the order date, standing in for the schema's
    * commit/receipt lateness), per priority. The EXISTS is a LEFT
    * SEMI join on the order key with the lateness predicate riding
    * the join condition, so each order tests at most once and the
    * probe side never duplicates — the decorrelation Catalyst itself
    * applies to the textbook form the oracle keeps. */
  val q4PriorityExists: QFn = (s, d) => {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderdate") >= ts("1997-01-01") &&
        col("o_orderdate") < ts("1997-04-01"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
    ord.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q6 shape — forecast revenue change: one tight scan-and-sum
    * with three conjunctive range predicates and no join. The whole
    * value of this plan is what reaches the scan: all three filters
    * push into the parquet reader and only two columns are read —
    * the registry's purest pushdown showcase at fact-table scale. */
  val q6ForecastRevenue: QFn = (s, d) => {
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= ts("1997-01-01") &&
        col("l_shipdate") < ts("1998-01-01") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24.0)
      .agg(dsum4(col("l_extendedprice") * col("l_discount")).as("revenue"))
  }

  /** TPC-H Q12 shape — shipping-delay priority audit: lines of one
    * ship year banded by how long after the order date they shipped
    * (the shipped schema has no ship mode, so the band IS the group),
    * with the Q12 CASE-sum pair counting critical- vs
    * normal-priority lines inside each band. One fact-fact shuffle
    * on the order key, then one grouped aggregation whose CASE
    * arithmetic is map-side partial. */
  val q12LateShipments: QFn = (s, d) => {
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= ts("1997-01-01") &&
        col("l_shipdate") < ts("1998-01-01"))
      .select("l_orderkey", "l_shipdate")
    val ord = Tables.orders(s, d)
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val delay = datediff(col("l_shipdate"), col("o_orderdate"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("ship_band",
        when(delay <= 30, "FAST")
          .when(delay <= 90, "NORMAL")
          .otherwise("SLOW"))
      .groupBy("ship_band")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy("ship_band")
  }

  /** TPC-H Q13 shape — customer order-count distribution: LEFT OUTER
    * join customer → orders with a disqualifying predicate ON THE
    * JOIN CLAUSE (not a WHERE — customers whose every order is
    * urgent must still appear with count 0; pushing the filter to a
    * WHERE would silently drop them), then the two-level
    * count-of-counts. The first aggregation shares the customer-key
    * partitioning the join produced; only the tiny histogram
    * re-shuffles. */
  val q13CustomerDistribution: QFn = (s, d) => {
    val cust = Tables.customer(s, d).select("c_custkey")
    val ord = Tables.orders(s, d).select("o_orderkey", "o_custkey",
      "o_orderpriority")
    cust.join(ord,
        col("c_custkey") === col("o_custkey") &&
          col("o_orderpriority") =!= "1-URGENT",
        "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q14 shape — promo revenue share: conditional-sum ratio
    * over one ship month of the lineitem ⋈ part join. Part is
    * SF-proportional so it carries no hint (AQE broadcasts while it
    * fits); numerator and denominator are exact decimal sums over
    * the SAME rows, so the share is one aggregation and one IEEE
    * division — the Q8 `mkt_share` discipline. */
  val q14PromoRevenue: QFn = (s, d) => {
    val li = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= ts("1997-09-01") &&
        col("l_shipdate") < ts("1997-10-01"))
      .select("l_partkey", "l_extendedprice", "l_discount")
    val prt = Tables.part(s, d).select("p_partkey", "p_type")
    val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
    li.join(prt, col("l_partkey") === col("p_partkey"))
      .agg((lit(100.0) *
        (dsum4(when(col("p_type") === "PROMO", vol).otherwise(lit(0.0))) /
          dsum4(vol))).as("promo_revenue"))
  }

  /** TPC-H Q15 shape — top supplier: quarterly per-supplier revenue,
    * keep the supplier(s) achieving the maximum. The scalar subquery
    * over the aggregate view becomes a broadcast ONE-ROW join (never
    * a driver collect), and the tie test compares the EXACT decimal
    * sums — the double cast happens only on output, so a revenue
    * tie can never be manufactured or missed by rounding. */
  val q15TopSupplier: QFn = (s, d) => {
    val revDec = sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
      .cast(org.apache.spark.sql.types.DecimalType(30, 4)))
    val rev = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= ts("1997-01-01") &&
        col("l_shipdate") < ts("1997-04-01"))
      .groupBy(col("l_suppkey").as("supplier_no"))
      .agg(revDec.as("rev_dec"))
    val mx = rev.agg(max(col("rev_dec")).as("mx_dec"))
    val supp = Tables.supplier(s, d).select("s_suppkey", "s_name")
    rev.crossJoin(broadcast(mx))
      .filter(col("rev_dec") === col("mx_dec"))
      .join(supp, col("supplier_no") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("rev_dec").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q17 shape — small-quantity-order revenue: lines of a
    * brand/size part slice whose quantity is below 20% of that
    * part's average ordered quantity. The correlated per-part AVG
    * decorrelates into one aggregation over the SAME part-filtered
    * lines (the part key functionally determines the filter, so
    * pre-filtering before the average changes nothing) joined back
    * on the part key — at 100 TB the average never touches the 99%
    * of lineitem outside the slice, where the textbook form's
    * subquery scan would. The 15-part dim is explicitly broadcast. */
  val q17SmallQuantity: QFn = (s, d) => {
    val prt = Tables.part(s, d)
      .filter(col("p_brand") === "Brand#3" && col("p_size") < 10)
      .select("p_partkey")
    val li = Tables.lineitem(s, d)
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(broadcast(prt), col("l_partkey") === col("p_partkey"))
    val avgq = li.groupBy(col("l_partkey").as("a_partkey"))
      .agg((dsum2(col("l_quantity")) / count(col("l_quantity")))
        .as("avg_qty"))
    li.join(avgq, col("l_partkey") === col("a_partkey"))
      .filter(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((dsum4(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
  }

  /** TPC-H Q19 shape — disjunctive discounted revenue: an OR of
    * three (brand, size-range, quantity-range) conjunctions across
    * the lineitem ⋈ part join. The per-table halves of each disjunct
    * (brand+size on part, nothing common on lineitem) cannot fully
    * push down — the query is the optimizer's disjunction-handling
    * stress: the join stays a plain partkey equi-join and the
    * compound predicate evaluates post-join, codegen'd, without
    * exploding into a union of three scans. */
  val q19DisjunctivePredicates: QFn = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val prt = Tables.part(s, d).select("p_partkey", "p_brand", "p_size")
    val disj =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(10, 30) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#7" && col("p_size").between(20, 50) &&
        col("l_quantity").between(20, 30))
    li.join(prt, col("l_partkey") === col("p_partkey"))
      .filter(disj)
      .agg(dsum4(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
  }

  /** TPC-H Q22 shape — idle high-balance customers: customers of
    * five nations (standing in for the phone-prefix country codes
    * the schema doesn't ship) with above-segment-average balance and
    * NO order in the final 18 months of the date range, counted and
    * totalled per nation. The global average is a broadcast one-row
    * join; the "no recent order" NOT EXISTS is a LEFT ANTI join
    * whose probe side pre-filters to recent orders BEFORE the
    * exchange — at 100 TB the anti join ships only the recent slice,
    * not the order history. */
  val q22IdleCustomers: QFn = (s, d) => {
    val sel = Tables.customer(s, d)
      .filter(col("c_nationkey").isin(1, 3, 5, 7, 9))
      .select("c_custkey", "c_nationkey", "c_acctbal")
    val avgBal = sel.filter(col("c_acctbal") > 0.0)
      .agg((dsum2(col("c_acctbal")) / count(col("c_acctbal")))
        .as("avg_bal"))
    val recent = Tables.orders(s, d)
      .filter(col("o_orderdate") >= ts("2000-02-01"))
      .select("o_custkey")
    sel.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("numcust"),
        dsum2(col("c_acctbal")).as("totacctbal"))
      .orderBy("c_nationkey")
  }

  val specs: Seq[KeySpec] = Seq(
    KeySpec.batch("q21_suppliers_waiting", q21SuppliersWaiting, shuffles = 4,
      // the oracle keeps the textbook correlated EXISTS / NOT-EXISTS
      // form — proving the one-pass grouped rewrite equivalent to the
      // subquery semantics, not just to itself
      """SELECT s_name, count(*) AS numwait
         FROM supplier, lineitem l1, orders
         WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
           AND o_orderstatus = 'F'
           AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
           AND EXISTS (SELECT 1 FROM lineitem l2
                       WHERE l2.l_orderkey = l1.l_orderkey
                         AND l2.l_suppkey <> l1.l_suppkey)
           AND NOT EXISTS (SELECT 1 FROM lineitem l3
                           WHERE l3.l_orderkey = l1.l_orderkey
                             AND l3.l_suppkey <> l1.l_suppkey
                             AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100"""),
    KeySpec.batch("q3_shipping_priority", q3ShippingPriority, shuffles = 1,
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
            ${sqlSum4("l_extendedprice * (1 - l_discount)")} AS revenue
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE c_mktsegment = 'BUILDING'
            AND o_orderdate < TIMESTAMP '1998-06-01'
            AND l_shipdate > TIMESTAMP '1998-06-01'
          GROUP BY 1, 2, 3
          ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
    KeySpec.batch("q10_returned_items", q10ReturnedItems, shuffles = 1,
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
            ${sqlSum4("l_extendedprice * (1 - l_discount)")} AS revenue
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          WHERE l_returnflag = 'R'
            AND o_orderdate >= TIMESTAMP '1997-01-01'
            AND o_orderdate < TIMESTAMP '1997-04-01'
          GROUP BY 1, 2, 3, 4
          ORDER BY revenue DESC, c_custkey LIMIT 20"""),
    KeySpec.batch("q18_large_orders", q18LargeOrders, shuffles = 1,
      s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
            total_qty
          FROM (SELECT l_orderkey, ${sqlSum2("l_quantity")} AS total_qty
                FROM lineitem GROUP BY 1) big
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          WHERE total_qty > 150.0
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""),
    KeySpec.batch("q5_local_supplier_volume", q5LocalSupplierVolume, shuffles = 1,
      s"""SELECT n_name,
            ${sqlSum4("l_extendedprice * (1 - l_discount)")} AS revenue
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey
            AND c_nationkey = s_nationkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE r_name = 'ASIA'
            AND o_orderdate >= TIMESTAMP '1997-01-01'
            AND o_orderdate < TIMESTAMP '1998-01-01'
          GROUP BY 1
          ORDER BY revenue DESC, n_name"""),
    KeySpec.batch("q7_volume_shipping", q7VolumeShipping, shuffles = 2,
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
            CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
            ${sqlSum4("l_extendedprice * (1 - l_discount)")} AS revenue
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE n1.n_name IN ('NATION_3', 'NATION_7')
            AND n2.n_name IN ('NATION_3', 'NATION_7')
            AND n1.n_name <> n2.n_name
            AND l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1998-01-01'
          GROUP BY 1, 2, 3
          ORDER BY 1, 2, 3"""),
    KeySpec.batch("q8_market_share", q8MarketShare, shuffles = 2,
      s"""SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
            ${sqlSum4("CASE WHEN n2.n_name = 'NATION_3' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
              / ${sqlSum4("l_extendedprice * (1 - l_discount)")} AS mkt_share,
            ${sqlSum4("l_extendedprice * (1 - l_discount)")} AS total_volume
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN part ON l_partkey = p_partkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON c_nationkey = n1.n_nationkey
          JOIN region ON n1.n_regionkey = r_regionkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE p_type = 'PROMO'
            AND r_name = 'EUROPE'
            AND o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate < TIMESTAMP '1998-01-01'
          GROUP BY 1
          ORDER BY 1"""),
    // TPC-H completion set: at audit scale AQE folds most dim joins to
    // broadcasts, so the shuffle counts are the agg/sort exchanges plus
    // the one fact-fact shuffle where the probe side is too big to fold
    KeySpec.batch("q4_priority_exists", q4PriorityExists, shuffles = 2,
      // oracles keep the textbook correlated/subquery forms where the
      // original had them — proving the decorrelated plan equivalent
      // to the subquery semantics, not just to itself
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders o
         WHERE o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate < TIMESTAMP '1997-04-01'
           AND EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
         GROUP BY 1 ORDER BY 1"""),
    KeySpec.batch("q6_forecast_revenue", q6ForecastRevenue, shuffles = 1,
      s"""SELECT ${sqlSum4("l_extendedprice * l_discount")} AS revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate < TIMESTAMP '1998-01-01'
            AND l_discount BETWEEN 0.05 AND 0.07
            AND l_quantity < 24.0"""),
    KeySpec.batch("q12_late_shipments", q12LateShipments, shuffles = 2,
      """SELECT ship_band,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM (SELECT o_orderpriority,
                 CASE WHEN date_diff('day', o_orderdate, l_shipdate) <= 30
                        THEN 'FAST'
                      WHEN date_diff('day', o_orderdate, l_shipdate) <= 90
                        THEN 'NORMAL'
                      ELSE 'SLOW' END AS ship_band
               FROM lineitem JOIN orders ON l_orderkey = o_orderkey
               WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                 AND l_shipdate < TIMESTAMP '1998-01-01')
         GROUP BY 1 ORDER BY 1"""),
    KeySpec.batch("q13_customer_distribution", q13CustomerDistribution,
      // the left join keeps the outer exchange
      shuffles = 3,
      """SELECT c_count, count(*) AS custdist
         FROM (SELECT c_custkey, count(o_orderkey) AS c_count
               FROM customer LEFT OUTER JOIN orders
                 ON c_custkey = o_custkey
                AND o_orderpriority <> '1-URGENT'
               GROUP BY c_custkey)
         GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC"""),
    KeySpec.batch("q14_promo_revenue", q14PromoRevenue, shuffles = 1,
      s"""SELECT 100.0 * (
            ${sqlSum4("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}
            / ${sqlSum4("l_extendedprice * (1 - l_discount)")}) AS promo_revenue
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate >= TIMESTAMP '1997-09-01'
            AND l_shipdate < TIMESTAMP '1997-10-01'"""),
    KeySpec.batch("q15_top_supplier", q15TopSupplier,
      // the aggregate view feeds both the max and the tie filter
      shuffles = 4,
      """WITH revenue AS (
           SELECT l_suppkey AS supplier_no,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4)))
               AS rev_dec
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             AND l_shipdate < TIMESTAMP '1997-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
         FROM supplier JOIN revenue ON s_suppkey = supplier_no
         WHERE rev_dec = (SELECT max(rev_dec) FROM revenue)
         ORDER BY s_suppkey"""),
    KeySpec.batch("q17_small_quantity", q17SmallQuantity,
      // the decorrelated avg shares the part-filtered slice
      shuffles = 3,
      s"""SELECT ${sqlSum4("l_extendedprice")} / 7.0 AS avg_yearly
          FROM lineitem JOIN part ON p_partkey = l_partkey
          WHERE p_brand = 'Brand#3' AND p_size < 10
            AND l_quantity < 0.2 *
              (SELECT ${sqlSum2("l2.l_quantity")} / count(l2.l_quantity)
               FROM lineitem l2 WHERE l2.l_partkey = p_partkey)"""),
    KeySpec.batch("q19_disjunctive_predicates", q19DisjunctivePredicates, shuffles = 1,
      s"""SELECT ${sqlSum4("l_extendedprice * (1 - l_discount)")} AS revenue
          FROM lineitem JOIN part ON p_partkey = l_partkey
          WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                 AND l_quantity BETWEEN 1 AND 11)
             OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30
                 AND l_quantity BETWEEN 10 AND 20)
             OR (p_brand = 'Brand#7' AND p_size BETWEEN 20 AND 50
                 AND l_quantity BETWEEN 20 AND 30)"""),
    KeySpec.batch("q22_idle_customers", q22IdleCustomers, shuffles = 3,
      s"""SELECT c_nationkey, count(*) AS numcust,
            ${sqlSum2("c_acctbal")} AS totacctbal
          FROM customer c
          WHERE c_nationkey IN (1, 3, 5, 7, 9)
            AND c_acctbal > (
              SELECT ${sqlSum2("c_acctbal")} / count(c_acctbal)
              FROM customer
              WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 3, 5, 7, 9))
            AND NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_custkey = c.c_custkey
                              AND o.o_orderdate >= TIMESTAMP '2000-02-01')
          GROUP BY 1 ORDER BY 1""")
      .crossJoinOk("compares every selected customer against the broadcast 1-row segment " +
        "average with an INEQUALITY, so the cross join cannot fold to an equi-join the " +
        "way q15's tie filter does — O(1) build side"))
}
