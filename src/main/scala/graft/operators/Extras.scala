package graft.operators

import graft.{KeySpec, QFn, Tables, Det}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Coverage beyond the §2 enumeration: the OLAP/ETL operators a user
  * of a lake pipeline reaches for daily — pivot, correlated
  * subqueries, percentile windows, struct columns, a partitioned
  * parquet sink with partition-pruned re-read, data-quality checks,
  * and the upsert/merge load step.
  */
object Extras {

  import Det._

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

  /** percent_rank / cume_dist / nth_value — the remaining analytic
    * window functions. */
  val winPercentiles: QFn = (s, d) => {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal"), col("c_custkey"))
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.customer(s, d).select(
      col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
      percent_rank().over(w).as("pr"),
      cume_dist().over(w).as("cd"),
      nth_value(col("c_custkey"), 3).over(wAll).as("third_cust"))
      .orderBy("c_mktsegment", "c_custkey")
  }

  /** Struct columns: build, nest, project fields back out. */
  val fnStruct: QFn = (s, d) =>
    Tables.orders(s, d).select(
      col("o_orderkey"),
      struct(
        col("o_orderstatus").as("status"),
        struct(col("o_totalprice").as("amount"),
          col("o_orderpriority").as("prio")).as("detail")).as("ord"))
      .select(
        col("o_orderkey"),
        col("ord.status").as("status"),
        col("ord.detail.amount").as("amount"),
        (col("ord.detail.amount") > 150000.0).cast("int").as("is_big"),
        length(col("ord.detail.prio")).as("prio_len"))
      .orderBy("o_orderkey")

  /** Partitioned parquet sink + partition-pruned re-read: events
    * written partitioned by event_type, read back with a partition
    * filter (the spec asserts PartitionFilters in the scan). This is
    * THE layout decision that makes a 100 TB lake queryable. */
  val sinkPartitionedScan: QFn = (s, d) => {
    // per-(dataset, app) path + overwrite: isolated from concurrent
    // runs, no tmpdir growth across repeated runs in one app
    val path = Tables.sinkPath(s, d, "part_sink")
    Tables.events(s, d)
      .write.mode("overwrite").partitionBy("event_type").parquet(path)
    s.read.parquet(path)
      .filter(col("event_type").isin("purchase", "error"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  /** Data-quality checks — the ETL gate: row counts, null keys,
    * referential orphans, duplicate PKs, value-range violations.
    * One (check, metric) row each. */
  val dqChecks: QFn = (s, d) => {
    val o = Tables.orders(s, d); val c = Tables.customer(s, d)
    val li = Tables.lineitem(s, d)
    val checks = Seq(
      o.agg(count(lit(1))).withColumn("check", lit("orders_rows")),
      o.filter(col("o_custkey").isNull).agg(count(lit(1)))
        .withColumn("check", lit("orders_null_custkey")),
      o.join(c, col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1))).withColumn("check", lit("orders_orphan_custkey")),
      o.groupBy("o_orderkey").agg(count(lit(1)).as("n")).filter(col("n") > 1)
        .agg(count(lit(1))).withColumn("check", lit("orders_dup_pk")),
      li.filter(col("l_discount") < 0.0 || col("l_discount") > 0.99)
        .agg(count(lit(1))).withColumn("check", lit("lineitem_discount_range")),
      li.filter(col("l_tax") < 0.0)
        .agg(count(lit(1))).withColumn("check", lit("lineitem_negative_tax")))
    checks.map(_.toDF("metric", "check").select("check", "metric"))
      .reduce(_.unionByName(_))
      .orderBy("check")
  }

  /** Upsert (MERGE) emulation — the ETL load step without a lakehouse
    * format: target ⟕⟖ updates, coalesce update-wins. At scale this is
    * one co-partitioned full-outer shuffle on the key. */
  val etlUpsert: QFn = (s, d) => {
    val target = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    val updates = Tables.customer(s, d)
      .filter(col("c_custkey") % 5 === 0)
      .select(col("c_custkey").as("u_custkey"),
        concat(col("c_name"), lit("_v2")).as("u_name"),
        (col("c_acctbal") + 100.0).as("u_acctbal"))
      // plus brand-new keys beyond the current range
      .unionByName(
        Tables.customer(s, d).filter(col("c_custkey") % 7 === 0)
          .select((col("c_custkey") + 10000000L).as("u_custkey"),
            lit("new_customer").as("u_name"), lit(0.0).as("u_acctbal")))
    target.join(updates, col("c_custkey") === col("u_custkey"), "full_outer")
      .select(
        coalesce(col("u_custkey"), col("c_custkey")).as("custkey"),
        coalesce(col("u_name"), col("c_name")).as("name"),
        coalesce(col("u_acctbal"), col("c_acctbal")).as("acctbal"))
      .orderBy("custkey")
  }

  /** Statistical outlier detection — the DQ step after [[dqChecks]]'s
    * structural gates: per-type z-scores with the moments computed
    * from EXACT decimal sums (Σx as DECIMAL(30,2), Σx² as
    * DECIMAL(30,4)), so mean and variance are bit-identical on any
    * executor count — a streamed stddev_samp would drift in reduction
    * order across engines and partitionings. The remaining arithmetic
    * is per-group IEEE double ops on identical inputs → identical z.
    * One aggregate + one broadcast join back to the facts. */
  val dqOutliers: QFn = (s, d) => {
    val e = Tables.events(s, d)
    val stats = e.groupBy("event_type").agg(
      Det.dsum2(col("value")).as("sx"),
      Det.dsum4(col("value") * col("value")).as("sx2"),
      count(lit(1)).as("n"))
      .withColumn("mean", col("sx") / col("n"))
      .withColumn("sd", sqrt((col("sx2") - col("sx") * col("sx") / col("n"))
        / (col("n") - 1)))
      .select("event_type", "mean", "sd")
    e.join(broadcast(stats), "event_type")
      .withColumn("z", fq((col("value") - col("mean")) / col("sd"), 6))
      .filter(abs(col("z")) > 2.5)
      .select("event_id", "event_type", "value", "z")
      .orderBy("event_id")
  }

  /** SCD2 (slowly-changing-dimension type 2) history build — the
    * standard dimension-load pattern: per user, collapse consecutive
    * repeats of the tracked attribute (event_type) into versions, then
    * derive [valid_from, valid_to) intervals and the is_current flag.
    * Two windows over the SAME (user_id) hash partitioning and
    * (ts, event_id) sort — Catalyst plans one exchange + one sort and
    * reuses them for both, so the whole history build is a single
    * shuffle at any scale. The event_id tiebreak keeps versions
    * deterministic under equal timestamps. */
  val etlScd2: QFn = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(w))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
      .withColumn("valid_to", lead("ts", 1).over(w))
      .select(col("user_id"), col("event_type"), col("ts").as("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"))
      .orderBy("user_id", "valid_from")
  }

  /** Batch sessionization (gaps-and-islands): a new session starts
    * after a >30-minute silence; session id is the running count of
    * session starts per user. Both windows share one (user_id) hash
    * partitioning + (ts, event_id) sort → one exchange total, then a
    * partial-agg rollup per (user, session) — the standard clickstream
    * shape at any scale. Gap compare is on epoch micros (exact integer
    * math, identical in DuckDB via epoch_us). */
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

  /** Funnel analysis (view → click → purchase): per-user earliest
    * stage times with strict ordering (each stage must follow the
    * previous one), then stage reach counts. Three aggregations and
    * two joins ALL keyed on user_id — one co-partitioned lineage, no
    * broadcast needed at any corpus size. */
  val winFunnel: QFn = (s, d) => {
    val e = Tables.events(s, d).select(col("user_id"), col("ts"), col("event_type"))
    val t1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val t2 = e.filter(col("event_type") === "click")
      .join(t1, "user_id").filter(col("ts") > col("t1"))
      .groupBy("user_id").agg(min("ts").as("t2"))
    val t3 = e.filter(col("event_type") === "purchase")
      .join(t2, "user_id").filter(col("ts") > col("t2"))
      .groupBy("user_id").agg(min("ts").as("t3"))
    t1.agg(lit("1_view").as("stage"), count(lit(1)).as("n_users"))
      .unionByName(t2.agg(lit("2_click").as("stage"), count(lit(1)).as("n_users")))
      .unionByName(t3.agg(lit("3_purchase").as("stage"), count(lit(1)).as("n_users")))
      .orderBy("stage")
  }

  /** Incremental aggregation (materialized-view maintenance): daily
    * partials over the closed history merged with the open delta by
    * re-aggregating the ALGEBRAIC state (count + exact decimal sum) —
    * never rescanning history. The oracle is the full-scan
    * aggregation: merged state ≡ recomputed state is exactly the MV
    * correctness contract. Partials stay DECIMAL until the final
    * cast, so the merge is lossless in any combine order. */
  val etlIncrementalAgg: QFn = (s, d) => {
    val e = Tables.events(s, d)
    def partials(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("pn"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(30, 2))).as("psum"))
    val hist = partials(e.filter(to_date(col("ts")) < "2024-01-25"))
    val delta = partials(e.filter(to_date(col("ts")) >= "2024-01-25"))
    hist.unionByName(delta)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_partials"), sum("pn").as("n"),
        sum("psum").cast("double").as("sum_value"))
      .orderBy("event_type")
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

  /** CDC changelog apply: compact a change stream (insert / update /
    * delete ops derived from the event feed) into the current
    * snapshot — latest op per key wins (ts, event_id tiebreak),
    * deleted keys drop out. One window shuffle on the primary key;
    * the standard lakehouse MERGE-from-changelog shape, and the
    * deterministic-compaction half of what `etl_upsert` does with a
    * full-outer join. */
  val etlCdcApply: QFn = (s, d) => {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        when(col("event_type") === "signup", "I")
          .when(col("event_type") === "error", "D")
          .otherwise("U").as("op"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("user_id"), col("op").as("last_op"),
        col("ts").as("last_ts"), col("value").as("last_value"))
      .orderBy("user_id")
  }

  /** Cross-table RECONCILIATION audit — the DQ check `dq_checks`'
    * referential suite doesn't cover: does each order's header total
    * equal the sum of its lines (Σ extendedprice·(1−disc)·(1+tax))?
    * Per status: order count, ORPHAN headers (no lines at all — the
    * shipped data has ~1.5%), headers off by more than one cent, and
    * the worst absolute discrepancy. On this synthetic data the
    * header totals are generated independently of the lines, so
    * every non-orphan order mismatches — the audit's job is to say
    * exactly that, deterministically.
    *
    * Determinism: both sides quantize to exact integer MICRO-UNITS
    * before any comparison — the per-row double product is IEEE-
    * identical in both engines (left-assoc, same operands), and the
    * DECIMAL(30,6)·1e6 recast is the [[graft.Det]] dsum6 recipe, so
    * the per-order line sums are order-independent long sums.
    *
    * 100 TB shape: one map-side-combinable groupBy per fact table,
    * then an orderkey-co-partitioned join of the two aggregates —
    * the reconcile never moves line-level rows to the header side. */
  val dqReconcile: QFn = (s, d) => {
    val li = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(expr("CAST(CAST(l_extendedprice * (1.0 - l_discount) * " +
        "(1.0 + l_tax) AS DECIMAL(30,6)) * 1000000 AS BIGINT)"))
        .as("calc_micro"))
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderstatus"),
        expr("CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 1000000 AS BIGINT)")
          .as("tot_micro"))
      .join(li, col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("calc_micro").isNull, 1L).otherwise(0L)).as("n_orphan"),
        sum(when(col("calc_micro").isNotNull &&
            abs(col("tot_micro") - col("calc_micro")) > 10000L, 1L)
          .otherwise(0L)).as("n_mismatch"),
        max(when(col("calc_micro").isNotNull,
          abs(col("tot_micro") - col("calc_micro"))))
          .as("max_abs_diff_micro"))
      .orderBy("o_orderstatus")
  }

  val specs: Seq[KeySpec] = Seq(
    KeySpec.batch("dq_reconcile", dqReconcile,
      // per-order line rollup + the orderkey-co-partitioned header join
      // + status groupBy (AQE folds the 3-row presentation sort;
      // measured 3, one exchange of headroom for AQE broadcast flips)
      shuffles = 4,
      // same micro-unit quantization on both sides; CASE sums recast
      // (DuckDB sum(int) is HUGEINT)
      """WITH li AS (
           SELECT l_orderkey,
             CAST(sum(CAST(CAST(l_extendedprice * (1.0 - l_discount) *
               (1.0 + l_tax) AS DECIMAL(30,6)) * 1000000 AS BIGINT)) AS BIGINT)
               AS calc_micro
           FROM lineitem GROUP BY 1),
         o AS (
           SELECT o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(30,2)) * 1000000 AS BIGINT)
               AS tot_micro
           FROM orders)
         SELECT o_orderstatus, count(*) AS n_orders,
           CAST(sum(CASE WHEN calc_micro IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_orphan,
           CAST(sum(CASE WHEN calc_micro IS NOT NULL
             AND abs(tot_micro - calc_micro) > 10000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mismatch,
           CAST(max(CASE WHEN calc_micro IS NOT NULL
             THEN abs(tot_micro - calc_micro) END) AS BIGINT)
             AS max_abs_diff_micro
         FROM o LEFT JOIN li ON o_orderkey = l_orderkey
         GROUP BY 1 ORDER BY 1"""),
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
    KeySpec.batch("etl_cdc_apply", etlCdcApply, shuffles = 2,
      """WITH c AS (
           SELECT user_id, ts, event_id, value,
             CASE WHEN event_type = 'signup' THEN 'I'
                  WHEN event_type = 'error' THEN 'D'
                  ELSE 'U' END AS op,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
           FROM events)
         SELECT user_id, op AS last_op, ts AS last_ts, value AS last_value
         FROM c WHERE rn = 1 AND op <> 'D' ORDER BY user_id""")
      .constructionJobsOk("applies the changelog to a staged table"),
    KeySpec.batch("win_funnel", winFunnel, shuffles = 7,
      """WITH t1 AS (
           SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         t2 AS (
           SELECT e.user_id, min(e.ts) AS t2 FROM events e
           JOIN t1 ON e.user_id = t1.user_id
           WHERE e.event_type = 'click' AND e.ts > t1.t1
           GROUP BY e.user_id),
         t3 AS (
           SELECT e.user_id, min(e.ts) AS t3 FROM events e
           JOIN t2 ON e.user_id = t2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > t2.t2
           GROUP BY e.user_id)
         SELECT * FROM (
           SELECT '1_view' AS stage, count(*) AS n_users FROM t1
           UNION ALL
           SELECT '2_click', count(*) FROM t2
           UNION ALL
           SELECT '3_purchase', count(*) FROM t3)
         ORDER BY stage"""),
    KeySpec.batch("etl_incremental_agg", etlIncrementalAgg, shuffles = 4,
      """SELECT event_type,
           count(DISTINCT CAST(ts AS DATE)) AS n_partials,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type""")
      .constructionJobsOk("maintains a staged running-aggregate table"),
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
    KeySpec.batch("etl_scd2", etlScd2, shuffles = 2,
      """WITH marked AS (
           SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
           FROM events),
         changes AS (
           SELECT * FROM marked
           WHERE prev_type IS NULL OR prev_type <> event_type)
         SELECT user_id, event_type, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
         FROM changes ORDER BY user_id, valid_from"""),
    KeySpec.batch("dq_outliers", dqOutliers, shuffles = 2,
      s"""WITH st AS (
            SELECT event_type,
              ${sqlSum2("value")} AS sx,
              ${sqlSum4("value * value")} AS sx2,
              count(*) AS n
            FROM events GROUP BY event_type),
          zs AS (
            SELECT e.event_id, e.event_type, e.value,
              ${sqlFq("(e.value - st.sx / st.n) / sqrt((st.sx2 - st.sx * st.sx / st.n) / (st.n - 1))", 6)} AS z
            FROM events e JOIN st ON e.event_type = st.event_type)
          SELECT event_id, event_type, value, z FROM zs
          WHERE abs(z) > 2.5 ORDER BY event_id"""),
    KeySpec.batch("subquery_family", subqueryFamily, shuffles = 2,
      """SELECT o_orderkey, o_totalprice
         FROM orders o
         WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
           AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
           AND EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
         ORDER BY o_orderkey"""),
    KeySpec.batch("win_percentiles", winPercentiles, shuffles = 2,
      """SELECT c_mktsegment, c_custkey, c_acctbal,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd,
           nth_value(c_custkey, 3) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
             AND UNBOUNDED FOLLOWING) AS third_cust
         FROM customer
         WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
         ORDER BY c_mktsegment, c_custkey"""),
    KeySpec.batch("fn_struct", fnStruct, shuffles = 1,
      """SELECT o_orderkey, o_orderstatus AS status, o_totalprice AS amount,
           CAST(o_totalprice > 150000.0 AS INT) AS is_big,
           CAST(length(o_orderpriority) AS INT) AS prio_len
         FROM orders ORDER BY o_orderkey"""),
    KeySpec.batch("sink_partitioned_scan", sinkPartitionedScan, shuffles = 2,
      """SELECT event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
         FROM events WHERE event_type IN ('purchase', 'error')
         GROUP BY event_type ORDER BY event_type""")
      .constructionJobsOk("writes the partitioned layout it scans"),
    KeySpec.batch("dq_checks", dqChecks, shuffles = 7,
      """SELECT * FROM (
           SELECT 'orders_rows' AS "check", count(*) AS metric FROM orders
           UNION ALL
           SELECT 'orders_null_custkey', count(*) FROM orders WHERE o_custkey IS NULL
           UNION ALL
           SELECT 'orders_orphan_custkey', count(*) FROM orders
             WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
           UNION ALL
           SELECT 'orders_dup_pk', count(*) FROM (
             SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
           UNION ALL
           SELECT 'lineitem_discount_range', count(*) FROM lineitem
             WHERE l_discount < 0.0 OR l_discount > 0.99
           UNION ALL
           SELECT 'lineitem_negative_tax', count(*) FROM lineitem WHERE l_tax < 0.0)
         ORDER BY "check""""),
    KeySpec.batch("etl_upsert", etlUpsert, shuffles = 3,
      """WITH updates AS (
           SELECT c_custkey AS u_custkey, c_name || '_v2' AS u_name,
                  c_acctbal + 100.0 AS u_acctbal
           FROM customer WHERE c_custkey % 5 = 0
           UNION ALL
           SELECT c_custkey + 10000000, 'new_customer', 0.0
           FROM customer WHERE c_custkey % 7 = 0)
         SELECT coalesce(u_custkey, c_custkey) AS custkey,
                coalesce(u_name, c_name) AS name,
                coalesce(u_acctbal, c_acctbal) AS acctbal
         FROM customer FULL OUTER JOIN updates ON c_custkey = u_custkey
         ORDER BY custkey""")
      .constructionJobsOk("merges into a staged target table"))
}
