package graft.operators

import graft.{KeySpec, QFn, Tables, Det}
import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ETL load, maintenance and data-quality operators — the steps a lake
  * pipeline runs around its queries: upsert/MERGE, SCD2 history, CDC
  * apply, incremental aggregation, partitioned and dynamic-overwrite
  * sinks, small-file compaction, Z-order clustering, targeted GDPR
  * erasure, and the data-quality gates (checks, outliers,
  * cross-table reconciliation). The sink keys write under
  * [[graft.Tables.sinkPath]] and read their own output back, so the
  * oracle checks what was written.
  */
object Etl {

  import Det._

  /** Partitioned parquet sink + partition-pruned re-read: events
    * written partitioned by event_type, read back with a partition
    * filter (the spec asserts PartitionFilters in the scan). This is
    * THE layout decision that makes a 100 TB lake queryable. */
  val sinkPartitionedScan: QFn = (s, d) => {
    // per-(dataset, JVM) path + overwrite: isolated from concurrent
    // runs, no growth across repeated runs in one JVM
    val path = Tables.sinkPath(s, d, "part_sink")
    Tables.events(s, d)
      .write.mode("overwrite").partitionBy("event_type").parquet(path)
    eventTypeTotals(s.read.parquet(path)
      .filter(col("event_type").isin("purchase", "error")))
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

  /** Z-order (Morton) clustering key: bit-interleave two join/filter
    * dimensions so range pruning works on BOTH after one sort — the
    * layout OPTIMIZE ZORDER writes in lakehouse table maintenance.
    * The interleave is the classic shift-spread (pure 64-bit integer
    * ops — bit-identical in any engine); the query reports per
    * z-range how tightly each source dimension clusters, i.e. the
    * min/max-pruning stats a file would carry after a z-sorted
    * rewrite. */
  val etlZorder: QFn = (s, d) => {
    def spread16(c: Column): Column = {
      var x = c.bitwiseAND(lit(0xFFFFL))
      x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
      x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x33333333L))
      x = x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x55555555L))
      x
    }
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey"),
        spread16(col("l_orderkey"))
          .bitwiseOR(shiftleft(spread16(col("l_partkey")), 1)).as("z"))
      .groupBy(shiftright(col("z"), 16).as("z_range"))
      .agg(count(lit(1)).as("n"),
        min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"),
        min("l_partkey").as("min_pk"), max("l_partkey").as("max_pk"))
      .orderBy("z_range")
  }

  /** Small-file compaction — the lake-maintenance rewrite: a
    * 64-file fragmented layout (every real ingest produces one)
    * coalesced into 4, verified lossless by aggregating the
    * compacted copy against the source-of-truth oracle.
    * `coalesce` (not `repartition`) keeps the rewrite shuffle-free;
    * CompactionSpec asserts the output file count. At 100 TB this
    * runs per-partition with target file size, same plan shape. */
  val etlCompaction: QFn = (s, d) => {
    val frag = Tables.sinkPath(s, d, "compact_frag")
    val tight = Tables.sinkPath(s, d, "compact_tight")
    val e = Tables.events(s, d).select("event_id", "event_type", "value")
    e.repartition(64).write.mode("overwrite").parquet(frag)
    s.read.parquet(frag).coalesce(4).write.mode("overwrite").parquet(tight)
    eventTypeTotals(s.read.parquet(tight))
  }

  /** Dynamic partition overwrite — the lakehouse partial-reload: a
    * corrected purchase feed replaces ONLY the purchase partition
    * (per-write `partitionOverwriteMode=dynamic` option, no session
    * conf mutation); every other partition's files are untouched. At
    * 100 TB this is the difference between rewriting a day and
    * rewriting the table. Final state = untouched partitions ∪
    * replacement rows, which is exactly what the oracle recomputes. */
  val etlDynamicPartitionOverwrite: QFn = (s, d) => {
    val path = Tables.sinkPath(s, d, "dpo_sink")
    val e = Tables.events(s, d).select("event_id", "event_type", "value")
    e.write.mode("overwrite").partitionBy("event_type").parquet(path)
    e.filter(col("event_type") === "purchase" && col("value") > 10)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_type").parquet(path)
    eventTypeTotals(s.read.parquet(path))
  }

  /** Bucket count of the GDPR layout. The eraser MUST hash with the
    * same modulus the writer laid the table out with — a mismatch
    * targets nonexistent partitions and silently leaves the erased
    * users' files alive — so both sides share this one constant
    * instead of taking it as a parameter. */
  val GdprBuckets = 16

  /** Erase `deleteIds` from a user-hash-bucketed parquet layout at
    * `path`: map the request to the (few) buckets its ids hash into,
    * read ONLY those partitions back, filter, and statically
    * overwrite EACH hit partition — including one whose survivors are
    * empty. (Dynamic partition overwrite is wrong here: it only
    * rewrites partitions that receive output rows, so a bucket whose
    * rows ALL matched `deleteIds` would keep its stale files and the
    * erasure would silently fail — r3 ADVICE.) `localCheckpoint`
    * materializes the survivors first so no overwrite reads the files
    * it is replacing. The per-bucket loop is bounded by the erasure
    * request size, not the table. */
  def gdprErase(s: SparkSession, path: String, deleteIds: Seq[Long]): Unit = {
    val nBuckets = GdprBuckets
    val buckets = deleteIds.map(id => ((id % nBuckets) + nBuckets) % nBuckets).distinct
    val survivors = s.read.parquet(path)
      .filter(col("bucket").isin(buckets: _*))
      // NULL user_id rows are survivors, not erasure targets: a bare
      // `!isin` evaluates to NULL for them and would silently erase
      // bystanders landing in a hit bucket (r4 ADVICE)
      .filter(col("user_id").isNull || !col("user_id").isin(deleteIds: _*))
      .localCheckpoint()
    buckets.foreach { b =>
      survivors.filter(col("bucket") === b).drop("bucket")
        .write.mode("overwrite").parquet(s"$path/bucket=$b")
    }
  }

  /** Targeted-erasure rewrite (the GDPR delete-by-key pattern): the
    * table is laid out partitioned by a user-hash bucket and
    * [[gdprErase]] rewrites exactly the buckets the erasure request
    * hashes into — every other partition's files are untouched. At
    * 100 TB this touches |buckets-hit| / |buckets| of the table
    * instead of all of it. */
  val etlGdprDelete: QFn = (s, d) => {
    val path = Tables.sinkPath(s, d, "gdpr_sink")
    val deleteIds = Seq(1L, 7L, 42L, 99L)
    Tables.events(s, d).select("event_id", "user_id", "event_type", "value")
      .withColumn("bucket", pmod(col("user_id"), lit(GdprBuckets)))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    gdprErase(s, path, deleteIds)
    totals(s.read.parquet(path).groupBy("event_type"),
      extra = Seq(countDistinct(col("user_id")).as("n_users")))
      .orderBy("event_type")
  }

  /** The grouped totals of an events-shaped frame: the row count (as
    * `countAs`) and the exact decimal `sum_value`, then `extra`. */
  def totals(g: RelationalGroupedDataset, countAs: String = "n",
      extra: Seq[Column] = Nil): DataFrame =
    g.agg(count(lit(1)).as(countAs), dsum2(col("value")).as("sum_value") +: extra: _*)

  /** [[totals]] per event_type, ordered: the Scala twin of
    * [[eventTypeTotalsSql]]. */
  def eventTypeTotals(df: DataFrame): DataFrame =
    totals(df.groupBy("event_type")).orderBy("event_type")

  /** Oracle of `etl_compaction`, `stream_snapshot_sink`, `stream_file_source`, `stream_incremental_resume` and `stream_dedup`. */
  val eventTypeTotalsSql: String =
    s"""SELECT event_type, count(*) AS n,
           ${sqlSum2("value")} AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type"""

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
    KeySpec.batch("etl_incremental_agg", etlIncrementalAgg, shuffles = 4,
      s"""SELECT event_type,
           count(DISTINCT CAST(ts AS DATE)) AS n_partials,
           count(*) AS n,
           ${sqlSum2("value")} AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type""")
      .constructionJobsOk("maintains a staged running-aggregate table"),
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
    KeySpec.batch("sink_partitioned_scan", sinkPartitionedScan, shuffles = 2,
      s"""SELECT event_type, count(*) AS n,
           ${sqlSum2("value")} AS sum_value
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
      .constructionJobsOk("merges into a staged target table"),
    KeySpec.batch("etl_dynamic_partition_overwrite", etlDynamicPartitionOverwrite, shuffles = 2,
      s"""SELECT event_type, count(*) AS n, ${sqlSum2("value")} AS sum_value
          FROM (
            SELECT event_type, value FROM events WHERE event_type <> 'purchase'
            UNION ALL
            SELECT event_type, value FROM events
            WHERE event_type = 'purchase' AND value > 10)
          GROUP BY event_type ORDER BY event_type""")
      .constructionJobsOk("overwrites hit partitions of a staged layout"),
    KeySpec.batch("etl_gdpr_delete", etlGdprDelete, shuffles = 3,
      s"""SELECT event_type, count(*) AS n, ${sqlSum2("value")} AS sum_value,
            count(DISTINCT user_id) AS n_users
          FROM events WHERE user_id NOT IN (1, 7, 42, 99)
          GROUP BY event_type ORDER BY event_type""")
      .constructionJobsOk("rewrites the hit buckets of the staged layout"),
    KeySpec.batch("etl_compaction", etlCompaction, shuffles = 2, eventTypeTotalsSql)
      .constructionJobsOk("writes the small-file layout it compacts"),
    KeySpec.batch("etl_zorder", etlZorder, shuffles = 2,
      """WITH b AS (
           SELECT l_orderkey, l_partkey,
             l_orderkey & 65535 AS a, l_partkey & 65535 AS bb FROM lineitem),
         s1 AS (SELECT l_orderkey, l_partkey,
             (a | (a << 8)) & 16711935 AS a, (bb | (bb << 8)) & 16711935 AS bb FROM b),
         s2 AS (SELECT l_orderkey, l_partkey,
             (a | (a << 4)) & 252645135 AS a, (bb | (bb << 4)) & 252645135 AS bb FROM s1),
         s3 AS (SELECT l_orderkey, l_partkey,
             (a | (a << 2)) & 858993459 AS a, (bb | (bb << 2)) & 858993459 AS bb FROM s2),
         s4 AS (SELECT l_orderkey, l_partkey,
             (a | (a << 1)) & 1431655765 AS a, (bb | (bb << 1)) & 1431655765 AS bb FROM s3),
         z AS (SELECT l_orderkey, l_partkey, (a | (bb << 1)) >> 16 AS z_range FROM s4)
         SELECT z_range, count(*) AS n,
           min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
           min(l_partkey) AS min_pk, max(l_partkey) AS max_pk
         FROM z GROUP BY z_range ORDER BY z_range""")
      .constructionJobsOk("writes the interleaved layout it range-scans"))
}
