package graft.operators

import graft.{KeySpec, QFn, Tables, Det}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Window functions (SURVEY.md §2.5): ranking, top-k, analytic
  * lag/lead, ROWS and RANGE frames, percent_rank/cume_dist/nth_value,
  * and a per-user conversion funnel (stage-ordered min-time joins
  * on `user_id`).
  *
  * Scale notes: every window here partitions by a high-cardinality key
  * (`user_id`, `c_mktsegment`) — one hash shuffle on the partition key,
  * then a per-partition sort; no global sort, no driver-side state.
  * Running/rolling sums go through exact DECIMAL(30,2) addition (input
  * doubles carry ≤2 decimals) so frame sums are reproducible regardless
  * of how an engine associates the additions (DuckDB uses a segment
  * tree; Spark a running accumulator).
  */
object Windows {

  import Det._

  /** row_number / rank / dense_rank / ntile(4) of customers by acctbal
    * within market segment. Order has a custkey tiebreak so every
    * ranking function is deterministic. */
  val winRank: QFn = (s, d) => {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, d).select(
      col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
      row_number().over(w).as("rn"),
      rank().over(w).cast("long").as("rk"),
      dense_rank().over(w).cast("long").as("drk"),
      ntile(4).over(w).as("quartile"))
      .orderBy("c_mktsegment", "rn")
  }

  /** Top-5 per segment via row_number ≤ 5 — the scalable per-group
    * top-k idiom (partial top-k per partition, no global sort). */
  val winTopk: QFn = (s, d) => {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("c_mktsegment", "rn", "c_custkey", "c_name", "c_acctbal")
      .orderBy("c_mktsegment", "rn")
  }

  /** lag / lead / first / last of event value per user in ts order
    * (event_id tiebreak). */
  val winAnalytic: QFn = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.events(s, d).select(
      col("user_id"), col("event_id"), col("ts"), col("value"),
      lag("value", 1).over(w).as("prev_value"),
      lead("value", 1).over(w).as("next_value"),
      first("value").over(wAll).as("first_value"),
      last("value").over(wAll).as("last_value"))
      .orderBy("user_id", "ts", "event_id")
  }

  /** Running per-user sum + count, ROWS UNBOUNDED PRECEDING..CURRENT. */
  val winFrameRows: QFn = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d).select(
      col("user_id"), col("event_id"), col("ts"),
      sum(col("value").cast(DecimalType(30, 2))).over(w)
        .cast("double").as("run_sum"),
      count(lit(1)).over(w).as("run_n"))
      .orderBy("user_id", "ts", "event_id")
  }

  /** Rolling 1-hour mean of event value per user — RANGE frame over
    * microsecond epoch (µs on both engines: Spark ts is µs-precision,
    * DuckDB oracle uses epoch_us). */
  val winFrameRange: QFn = (s, d) => {
    val hourUs = 3600L * 1000000L
    val w = Window.partitionBy("user_id").orderBy(unix_micros(col("ts")))
      .rangeBetween(-hourUs, 0)
    Tables.events(s, d).select(
      col("user_id"), col("event_id"), col("ts"),
      (sum(col("value").cast(DecimalType(30, 2))).over(w).cast("double")
        / count(lit(1)).over(w)).as("roll_mean_1h"),
      count(lit(1)).over(w).as("roll_n_1h"))
      .orderBy("user_id", "ts", "event_id")
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

  val specs: Seq[KeySpec] = Seq(
    KeySpec.batch("win_rank", winRank, shuffles = 2,
      """SELECT c_mktsegment, c_custkey, c_acctbal,
           CAST(row_number() OVER w AS INT) AS rn,
           rank() OVER w AS rk,
           dense_rank() OVER w AS drk,
           CAST(ntile(4) OVER w AS INT) AS quartile
         FROM customer
         WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
         ORDER BY c_mktsegment, rn"""),
    KeySpec.batch("win_topk", winTopk, shuffles = 2,
      """SELECT c_mktsegment, rn, c_custkey, c_name, c_acctbal FROM (
           SELECT *, CAST(row_number() OVER (PARTITION BY c_mktsegment
             ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rn
           FROM customer) WHERE rn <= 5
         ORDER BY c_mktsegment, rn"""),
    KeySpec.batch("win_analytic", winAnalytic, shuffles = 2,
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
           lag(value, 1) OVER w AS prev_value,
           lead(value, 1) OVER w AS next_value,
           first_value(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_value,
           last_value(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_value
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY user_id, ts, event_id"""),
    KeySpec.batch("win_frame_rows", winFrameRows, shuffles = 2,
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           CAST(sum(CAST(value AS DECIMAL(30,2))) OVER w AS DOUBLE) AS run_sum,
           count(*) OVER w AS run_n
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY user_id, ts, event_id"""),
    KeySpec.batch("win_frame_range", winFrameRange, shuffles = 2,
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
           CAST(sum(CAST(value AS DECIMAL(30,2))) OVER w AS DOUBLE)
             / count(*) OVER w AS roll_mean_1h,
           count(*) OVER w AS roll_n_1h
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, ts, event_id"""),
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
    KeySpec.batch("win_percentiles", winPercentiles, shuffles = 2,
      """SELECT c_mktsegment, c_custkey, c_acctbal,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd,
           nth_value(c_custkey, 3) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
             AND UNBOUNDED FOLLOWING) AS third_cust
         FROM customer
         WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
         ORDER BY c_mktsegment, c_custkey"""))
}
