package graft.operators

import org.apache.spark.sql.functions._

import graft._
import graft.Det._

/** Composite analytics queries (r4 verdict item 7): multi-join +
  * aggregate + top-k plans in the classic TPC-H Q3/Q10/Q18 shapes,
  * exercising several registry operators INSIDE one optimizer run —
  * join reorder, filter pushdown through joins, partial aggregation
  * under a final top-k — rather than one operator per key.
  *
  * Scale notes (the shapes these plans must keep at 100 TB):
  *  - Fact-fact joins (lineitem ⋈ orders) shuffle on the join key;
  *    filters are pushed below the join on BOTH sides first.
  *  - Dim joins (customer, nation) stay broadcast while the filtered
  *    dim fits (AQE decides from runtime stats; nation is forced —
  *    25 rows at any scale).
  *  - Every aggregation is algebraic (exact decimal sums) so partial
  *    aggregation runs map-side before the one shuffle per agg.
  *  - Top-k is `TakeOrderedAndProject` — never a global sort.
  */
object Composite {

  /** TPC-H Q3 shape — shipping priority: revenue of not-yet-shipped
    * orders for one market segment, top-10 by revenue. Plan: segment
    * filter into customer scan, date filters into orders/lineitem
    * scans, lineitem ⋈ orders on the order key, broadcast customer
    * dim, one grouped agg, top-10. */
  val q3ShippingPriority: QFn = (s, d) => {
    val cutoff = lit("1998-06-01").cast("timestamp_ntz")
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
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp_ntz"))
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
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
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
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp_ntz"))
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
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp_ntz"))
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
          ORDER BY 1"""))
}
