package graft.operators

import graft.{KeySpec, QFn, Tables, Det}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Window functions (SURVEY.md §2.5): ranking, top-k, analytic
  * lag/lead, ROWS and RANGE frames.
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
         ORDER BY user_id, ts, event_id"""))
}
