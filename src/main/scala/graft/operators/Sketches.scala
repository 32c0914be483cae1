package graft.operators

import graft.{KeySpec, QFn, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Count–min sketch with DETERMINISTIC, engine-portable hashing —
  * the streaming-sketch family member the approximate keys
  * (agg_approx_distinct, agg_hll_sketch) can't oracle: because the
  * D=4 row hashes are md5-derived exactly the same way in Spark and
  * DuckDB, the whole sketch — and therefore every estimate — is
  * hash-exact and fully oracle-checkable, unlike implementation-
  * specific HLL/datasketch binaries.
  *
  * Fixture: sketch the l_suppkey frequency distribution of lineitem
  * into a D×W = 4×512 counter table, then point-query every distinct
  * supplier and report the CMS estimate next to the true count. The
  * CMS overestimate guarantee (est ≥ true, over by at most the
  * collision mass of the row's bucket) is pinned by SketchesSpec.
  *
  * 100 TB shape: ONE shuffle total — the per-key pre-aggregation
  * (what a streaming sketch's map-side combine does anyway; the
  * counters are definitionally identical to per-row insertion). Every
  * md5 is computed per DISTINCT key, not per row, and the 128-bit
  * digest is sliced into all four 32-bit row hashes, so hash cost is
  * O(keys), not O(rows·D). The counter table is BOUNDED at D·W rows
  * no matter the input size (that bound is the whole point of a
  * sketch) and broadcasts to the probe join for free. */
object Sketches {

  import graft.Det.{fq, sqlFq}

  val D = 4    // hash rows
  val W = 512  // buckets per row

  /** Row-r bucket of a string key: hex chars [8r+1, 8r+8] of md5(key)
    * — the four non-overlapping 32-bit words of one digest — read as
    * an integer, mod W. DuckDB twin:
    * ('0x' || substr(md5(k), 8*r+1, 8))::UBIGINT % W. */
  def bucket(md5hex: Column, r: Int): Column =
    conv(substring(md5hex, 8 * r + 1, 8), 16, 10).cast("long") % W

  val aggCms: QFn = (s, d) => {
    val li = Tables.lineitem(s, d)
      .select(col("l_suppkey").cast("string").as("k"))
    val keyed = li.groupBy("k").agg(count(lit(1)).as("true_cnt"))
    def cells: Column = explode(array(
      (0 until D).map(r =>
        struct(lit(r).as("r"), bucket(md5(col("k")), r).as("b"))): _*))
    val sketch = keyed.select(col("true_cnt"), cells.as("c"))
      .groupBy(col("c.r").as("r"), col("c.b").as("b"))
      .agg(sum("true_cnt").as("cnt"))
    keyed.select(col("k"), col("true_cnt"), cells.as("c"))
      .select(col("k"), col("true_cnt"),
        col("c.r").as("r"), col("c.b").as("b"))
      .join(broadcast(sketch), Seq("r", "b"))
      .groupBy("k")
      .agg(min("cnt").as("est"), max("true_cnt").as("true_cnt"))
      .select("k", "est", "true_cnt")
      .orderBy("k")
  }

  /** PORTABLE HyperLogLog — the same engine-portable-hash idea as the
    * CMS above applied to the OTHER classic sketch, making the HLL
    * estimate itself oracle-checkable (it replaces the opaque
    * `approx_count_distinct` binary as the registered
    * `agg_approx_distinct` key; the error-bound spec stays).
    *
    * Construction (m = 2^9 = 512 registers): one md5 per DISTINCT
    * (group, key); hex chars 1–8 pick the register, chars 9–18 are a
    * 40-bit word whose leading-zero count + 1 is the rank (capped 41
    * when the word is 0). Register = max rank. The harmonic-mean
    * denominator Σ 2^(−M_j) is computed as the EXACT INTEGER
    * Σ 2^(41−M_j) (max 512·2^41 = 2^50, inside both engines' exact
    * BIGINT and double domains), so the raw estimate is one IEEE
    * double division both engines perform identically; the
    * small-range branch (linear counting m·ln(m/V) when raw ≤ 2.5m
    * and V empty registers exist) is the only transcendental, and the
    * published estimate is rounded to 4 decimals to absorb any last-
    * ulp libm divergence.
    *
    * 100 TB shape: the distinct pre-aggregation is the one shuffle;
    * registers are BOUNDED at m rows per group regardless of input
    * size, and every md5 is per distinct key, not per row. */
  val aggApproxDistinctHll: QFn = (s, d) => {
    val m = 512; val R = 41
    val pairs = Tables.events(s, d)
      .select(col("event_type"), col("user_id").cast("string").as("k"))
      .distinct()
    val hashed = pairs
      .select(col("event_type"), md5(col("k")).as("h"))
      .select(col("event_type"),
        (conv(substring(col("h"), 1, 8), 16, 10).cast("long") % m).as("idx"),
        conv(substring(col("h"), 9, 10), 16, 10).cast("long").as("v"))
      .select(col("event_type"), col("idx"),
        when(col("v") === 0, R)
          .otherwise(lit(R) - length(conv(col("v").cast("string"), 10, 2)))
          .as("rank"))
    val regs = hashed.groupBy("event_type", "idx").agg(max("rank").as("mj"))
    val exact = Tables.events(s, d).groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    regs.groupBy("event_type").agg(
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), $R - mj)")).as("s_present"),
        count(lit(1)).as("n_present"))
      .select(col("event_type"),
        (lit(m) - col("n_present")).as("v0"),
        (col("s_present") +
          (lit(m) - col("n_present")) * lit(1L << R)).as("sden"))
      // α_m·m²·2^R written as one literal chain, identically in the
      // oracle, so both engines fold it to the same double
      .select(col("event_type"), col("v0"),
        (lit(0.7213) / (lit(1.0) + lit(1.079) / 512.0) * 262144.0
          * lit(2199023255552.0) / col("sden").cast("double")).as("raw"))
      .select(col("event_type"),
        round(when(col("raw") <= 2.5 * m && col("v0") > 0,
          lit(512.0) * log(lit(512.0) / col("v0").cast("double")))
          .otherwise(col("raw")), 4).as("est_users"))
      .join(exact, "event_type")
      .select("event_type", "est_users", "exact_users")
      .orderBy("event_type")
  }

  /** PORTABLE sketch MERGE — the rollup pattern `agg_hll_sketch`
    * demonstrates with DataSketches binaries (per-day sketches,
    * re-aggregated to answer any coarser rollup without rescanning),
    * re-expressed on the md5 register construction so the MERGE
    * itself is oracle-checkable: per-day registers are max-rank per
    * (day, idx), the union is `max` over days per idx — and because
    * max is associative-commutative-idempotent, the merged register
    * table is BIT-IDENTICAL to the direct whole-table construction.
    * The key emits both estimates side by side (they must be equal —
    * that is the sketch-merge distributivity contract, here driver-
    * hash-verified instead of spec-asserted) plus the exact count.
    *
    * 100 TB shape: per-partition/day sketches are the persisted
    * state (m rows each, bounded); any rollup is a groupBy-max over
    * sketch rows — kilobytes per group — never a rescan of the
    * fact data. */
  val aggHllPortableMerge: QFn = (s, d) => {
    val m = 512; val R = 41
    val pairs = Tables.events(s, d)
      .select(to_date(col("ts")).as("day"),
        col("user_id").cast("string").as("k"))
      .distinct()
    val hashed = pairs
      .select(col("day"), md5(col("k")).as("h"))
      .select(col("day"),
        (conv(substring(col("h"), 1, 8), 16, 10).cast("long") % m).as("idx"),
        conv(substring(col("h"), 9, 10), 16, 10).cast("long").as("v"))
      .select(col("day"), col("idx"),
        when(col("v") === 0, R)
          .otherwise(lit(R) - length(conv(col("v").cast("string"), 10, 2)))
          .as("rank"))
    // per-day sketches (the persisted partials)…
    val daily = hashed.groupBy("day", "idx").agg(max("rank").as("mj"))
    // …merged: register-wise max across days
    val merged = daily.groupBy("idx").agg(max("mj").as("mj"))
    // direct whole-table construction (must equal the merge)
    val direct = hashed.groupBy("idx").agg(max("rank").as("mj"))
    def estimate(regs: DataFrame, out: String): DataFrame =
      regs.agg(
          sum(expr(s"shiftleft(CAST(1 AS BIGINT), $R - mj)")).as("s_present"),
          count(lit(1)).as("n_present"))
        .select((lit(m) - col("n_present")).as("v0"),
          (col("s_present") +
            (lit(m) - col("n_present")) * lit(1L << R)).as("sden"))
        .select(col("v0"),
          (lit(0.7213) / (lit(1.0) + lit(1.079) / 512.0) * 262144.0
            * lit(2199023255552.0) / col("sden").cast("double")).as("raw"))
        .select(
          round(when(col("raw") <= 2.5 * m && col("v0") > 0,
            lit(512.0) * log(lit(512.0) / col("v0").cast("double")))
            .otherwise(col("raw")), 4).as(out))
    val exact = Tables.events(s, d)
      .agg(countDistinct(col("user_id")).as("exact_users"))
    estimate(merged, "est_merged")
      .crossJoin(broadcast(estimate(direct, "est_direct")))
      .crossJoin(broadcast(exact))
  }

  /** PORTABLE histogram quantiles — the bounded-memory approximate
    * quantile whose ESTIMATE is oracle-checkable (the GK/
    * `approx_percentile` key demonstrates Spark's built-in sketch but
    * its binary is engine-specific, and the exact two-pass key pays
    * two full scans for exactness): one O(1) min/max pass fixes 256
    * equi-width bins, one aggregation pass builds the bounded counter
    * table, and any quantile interpolates linearly inside the bin
    * where the target rank lands. Every arithmetic step (bin width,
    * floor-assignment, rank, interpolation) is the same IEEE double
    * sequence in both engines, so the estimates hash-match exactly;
    * the error bound is one bin width — (max−min)/256 — by
    * construction.
    *
    * 100 TB shape: the counter table is 256 rows regardless of input
    * (broadcast-size), the data passes are full scans with map-side
    * combine, and the quantile extraction runs on the 256-row frame
    * only — the same state-bounding argument as the CMS/HLL keys. */
  val aggQuantileHistogram: QFn = (s, d) => {
    val nBins = 256
    val li = Tables.lineitem(s, d)
      .select(col("l_extendedprice").cast("double").as("x"))
    val stats = li.agg(min("x").as("lo"), max("x").as("hi"),
      count(lit(1)).as("n"))
    val binned = li.crossJoin(broadcast(stats))
      // clamp the max value into the last bin (floor((hi-lo)/w)=nBins)
      .select(least(
        floor((col("x") - col("lo")) / ((col("hi") - col("lo")) / nBins)),
        lit(nBins - 1)).cast("int").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("cnt"))
    val wCum = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = binned
      .withColumn("cum_before", coalesce(sum("cnt").over(wCum), lit(0L)))
      .crossJoin(broadcast(stats))
    val qs = Seq(0.25, 0.5, 0.75, 0.99)
    val perQ = qs.map { q =>
      // target rank ⌈q·n⌉; the estimate interpolates linearly within
      // the bin containing it
      cum.filter(col("cum_before") < ceil(lit(q) * col("n")) &&
          ceil(lit(q) * col("n")) <= col("cum_before") + col("cnt"))
        .select(lit(q).as("q"),
          fq(col("lo") + ((col("hi") - col("lo")) / nBins) *
            (col("bin").cast("double") +
              (ceil(lit(q) * col("n")).cast("double") - col("cum_before")) /
                col("cnt")), 6).as("est"))
    }
    perQ.reduce(_.unionByName(_)).orderBy("q")
  }

  val specs: Seq[KeySpec] = Seq(
    KeySpec.batch("agg_cms", aggCms, shuffles = 3,
      // the oracle keeps the definitional per-ROW insertion form —
      // counter (r, b) = number of rows whose key hashes there — which
      // the Spark side's per-key pre-aggregation must equal exactly
      s"""WITH li AS (SELECT l_suppkey::VARCHAR AS k FROM lineitem),
         rs AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(r)),
         cells AS (SELECT k, r,
             ('0x' || substr(md5(k), 8 * r + 1, 8))::UBIGINT % $W AS b
           FROM li, rs),
         sketch AS (SELECT r, b, count(*) AS cnt FROM cells GROUP BY r, b),
         probes AS (SELECT k, count(*) AS true_cnt FROM li GROUP BY k),
         pb AS (SELECT p.k, p.true_cnt, rs.r,
             ('0x' || substr(md5(p.k), 8 * rs.r + 1, 8))::UBIGINT % $W AS b
           FROM probes p, rs)
         SELECT pb.k AS k, min(s.cnt) AS est, max(pb.true_cnt) AS true_cnt
         FROM pb JOIN sketch s ON pb.r = s.r AND pb.b = s.b
         GROUP BY pb.k ORDER BY k"""),
    KeySpec.batch("agg_hll_portable_merge", aggHllPortableMerge,
      // merged + direct registers + exact twin: three aggregate chains
      // over the distinct (day, user) pre-agg; every post-register frame
      // is ≤ m rows
      shuffles = 8,
      // per-day register sketches, max-merged, next to the direct
      // construction — the same md5 slicing and literal-for-literal
      // double chain as agg_approx_distinct's oracle
      """WITH pairs AS (SELECT DISTINCT CAST(ts AS DATE) AS day,
             user_id::VARCHAR AS k FROM events),
         hashed AS (SELECT day,
             ('0x' || substr(md5(k), 1, 8))::UBIGINT % 512 AS idx,
             ('0x' || substr(md5(k), 9, 10))::UBIGINT AS v
           FROM pairs),
         ranked AS (SELECT day, idx,
             CASE WHEN v = 0 THEN 41 ELSE 41 - length(bin(v)) END AS rank
           FROM hashed),
         daily AS (SELECT day, idx, max(rank) AS mj FROM ranked GROUP BY day, idx),
         merged AS (SELECT idx, max(mj) AS mj FROM daily GROUP BY idx),
         direct AS (SELECT idx, max(rank) AS mj FROM ranked GROUP BY idx),
         est_m AS (SELECT
             round(CASE WHEN raw <= 1280.0 AND v0 > 0
               THEN 512.0 * ln(512.0 / CAST(v0 AS DOUBLE)) ELSE raw END, 4)
               AS est_merged
           FROM (SELECT 512 - count(*) AS v0,
               0.7213 / (1.0 + 1.079 / 512.0) * 262144.0 * 2199023255552.0
                 / CAST(CAST(sum(1::BIGINT << (41 - mj)) AS BIGINT)
                   + (512 - count(*)) * (1::BIGINT << 41) AS DOUBLE) AS raw
             FROM merged)),
         est_d AS (SELECT
             round(CASE WHEN raw <= 1280.0 AND v0 > 0
               THEN 512.0 * ln(512.0 / CAST(v0 AS DOUBLE)) ELSE raw END, 4)
               AS est_direct
           FROM (SELECT 512 - count(*) AS v0,
               0.7213 / (1.0 + 1.079 / 512.0) * 262144.0 * 2199023255552.0
                 / CAST(CAST(sum(1::BIGINT << (41 - mj)) AS BIGINT)
                   + (512 - count(*)) * (1::BIGINT << 41) AS DOUBLE) AS raw
             FROM direct))
         SELECT est_merged, est_direct,
           (SELECT count(DISTINCT user_id) FROM events) AS exact_users
         FROM est_m, est_d""")
      .crossJoinOk("crosses 1-row aggregates — O(1) both sides"),
    KeySpec.batch("agg_quantile_histogram", aggQuantileHistogram,
      // two scan-aggregate passes + the 256-row histogram + 4 quantile
      // probes over the bounded frame
      shuffles = 4,
      // identical IEEE sequence: double bin width, floor-assignment with
      // last-bin clamp, ⌈q·n⌉ rank, linear interpolation inside the bin
      s"""WITH li AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem),
         stats AS (SELECT min(x) AS lo, max(x) AS hi, count(*) AS n FROM li),
         binned AS (SELECT CAST(least(floor((x - lo) / ((hi - lo) / 256)), 255) AS INT) AS bin
           FROM li, stats),
         hist AS (SELECT bin, count(*) AS cnt FROM binned GROUP BY bin),
         cum AS (SELECT bin, cnt,
             coalesce(sum(cnt) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
           FROM hist),
         qs AS (SELECT unnest(CAST([0.25, 0.5, 0.75, 0.99] AS DOUBLE[])) AS q)
         SELECT q, ${sqlFq("lo + ((hi - lo) / 256) * (CAST(bin AS DOUBLE) + (CAST(ceil(q * n) AS DOUBLE) - cum_before) / cnt)", 6)} AS est
         FROM qs, cum, stats
         WHERE cum_before < ceil(q * n) AND ceil(q * n) <= cum_before + cnt
         ORDER BY q""")
      .crossJoinOk("crosses the 1-row stats and the 256-row counter table"))
}
