package graft.operators

import graft.{KeySpec, QFn, Tables, Det}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series / market-bar domain operators — the derived quantities
  * the reference's intraday bid/ask domain implies (SURVEY §1a):
  * time-bucketed OHLC bars, size-weighted VWAP, and a gap-filled
  * forward-filled resample. `events.value` stands in for price and the
  * JSON `props.k` field for size — same shapes, same plans.
  *
  * All three are single-shuffle aggregations/windows over the
  * high-cardinality (bucket, type) grain — the partitioning a
  * 100 TB tick store would use (bar buckets nest cleanly inside
  * date partitions, so bars never cross file groups).
  */
object TimeSeries {

  import Det._

  private val bar = date_trunc("hour", col("ts"))

  /** Hourly OHLC bars per event type. Open/close are the first/last
    * value in (ts, event_id) order — the event_id tiebreak makes bars
    * deterministic under equal timestamps on any executor count. */
  val tsOhlcBars: QFn = (s, d) => {
    val wAsc = Window.partitionBy("bar", "event_type").orderBy("ts", "event_id")
    val wDesc = Window.partitionBy("bar", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .select(bar.as("bar"), col("event_type"), col("ts"), col("event_id"), col("value"))
      .withColumn("rn_a", row_number().over(wAsc))
      .withColumn("rn_d", row_number().over(wDesc))
      .groupBy("bar", "event_type")
      .agg(
        max(when(col("rn_a") === 1, col("value"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(when(col("rn_d") === 1, col("value"))).as("close"),
        count(lit(1)).as("n_ticks"))
      .orderBy("bar", "event_type")
  }

  /** Hourly size-weighted average price: Σ(price·size)/Σ(size) with
    * the price·size products summed as exact decimals — the same
    * order-independent merge the weighted-mid UDAF uses, so 1000
    * partial aggregates combine losslessly. */
  val tsVwap: QFn = (s, d) =>
    Tables.events(s, d)
      .select(bar.as("bar"), col("value"),
        get_json_object(col("props"), "$.k").cast("int").as("sz"))
      .groupBy("bar")
      .agg(
        // a bar whose sizes sum to 0 has no defined vwap → NULL (and
        // ANSI mode would otherwise raise DIVIDE_BY_ZERO — hit at
        // sf0.001, where one sparse hour has total_size = 0)
        when(sum("sz") === 0, lit(null))
          .otherwise(dsum2(col("value") * col("sz")) / sum("sz")).as("vwap"),
        sum("sz").as("total_size"),
        count(lit(1)).as("n_ticks"))
      .orderBy("bar")

  /** Hourly TWAP — the TIME-weighted companion to [[tsVwap]]: each
    * tick's value is weighted by how long it stood (µs to the next
    * tick in the bar; the last tick carries to the bar's end), the
    * quote-store average that sparse/bursty tick arrival demands.
    * Weights are exact integer µs and the weighted sum runs through
    * the decimal path, so the result is executor-count-invariant and
    * hash-matches DuckDB. One (bar)-partitioned window + one groupBy
    * on the same key — a single shuffle. */
  val tsTwap: QFn = (s, d) => {
    val w = Window.partitionBy("bar").orderBy("uts", "event_id")
    Tables.events(s, d)
      .select(bar.as("bar"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("uts"))
      .withColumn("dt",
        coalesce(lead("uts", 1).over(w),
          unix_micros(col("bar") + expr("INTERVAL 1 HOUR"))) - col("uts"))
      .groupBy("bar")
      .agg(
        when(sum("dt") === 0, lit(null))
          .otherwise(dsum2(col("value") * col("dt")) / sum("dt")).as("twap"),
        count(lit(1)).as("n_ticks"))
      .orderBy("bar")
  }

  /** Cross-signal Pearson correlation of hourly averages (purchase
    * value vs click value per bar) — the pairs-analysis primitive a
    * quote store runs across instruments. Every moment (Σx, Σy, Σxy,
    * Σx², Σy²) goes through the exact decimal path and the closing
    * formula is ONE double expression with identical shape in the
    * oracle, so the statistic hash-matches despite five compositions.
    * Two map-side-combined aggregations + a bar equi-join; the
    * moments reduce to a single row. */
  val tsCorrTypes: QFn = (s, d) => {
    val hourly = Tables.events(s, d)
      .select(bar.as("bar"), col("event_type"), col("value"))
      .groupBy("bar", "event_type").agg(davg2(col("value")).as("v"))
    val x = hourly.filter(col("event_type") === "purchase")
      .select(col("bar"), col("v").as("x"))
    val y = hourly.filter(col("event_type") === "click")
      .select(col("bar"), col("v").as("y"))
    val n = count(lit(1))
    val (sx, sy) = (dsum6(col("x")), dsum6(col("y")))
    val (sxx, syy, sxy) = (dsum6(col("x") * col("x")),
      dsum6(col("y") * col("y")), dsum6(col("x") * col("y")))
    x.join(y, "bar").agg(
      n.as("n_bars"),
      fq((n * sxy - sx * sy) /
        sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6).as("corr"))
  }

  /** Hourly realized volatility — √Σr² over consecutive-tick log
    * returns within each bar, the microstructure statistic of an
    * intraday store. Cross-engine determinism: each return ROUNDS
    * (not fq) to 6 decimals FIRST — ln is a transcendental, so Spark's
    * Math.log and DuckDB's libm log can land an ulp apart and fq would
    * split ulp-apart values across a grid edge (the r9 audit rule;
    * round is the absorber here). Both engines then square and
    * decimal-sum identical doubles; the OUTER fq on sqrt is safe
    * because IEEE-754 sqrt is correctly rounded and its operand (the
    * dsum6 decimal sum) is bit-identical cross-engine. Non-positive
    * prices yield null returns in both. One bar-partitioned window +
    * the same-key groupBy — a single shuffle, like [[tsTwap]]. */
  val tsRealizedVol: QFn = (s, d) => {
    val w = Window.partitionBy("bar").orderBy("uts", "event_id")
    Tables.events(s, d)
      .select(bar.as("bar"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("uts"))
      .withColumn("nv", lead("value", 1).over(w))
      .withColumn("r", when(col("value") > 0 && col("nv") > 0,
        round(log(col("nv") / col("value")), 6)))
      .groupBy("bar")
      .agg(fq(sqrt(dsum6(col("r") * col("r"))), 6).as("rv"),
        count(col("r")).as("n_returns"))
      .orderBy("bar")
  }

  /** OLS trend per event type — slope/intercept of value against
    * hours-since-epoch, from the same exact decimal moments as
    * [[tsCorrTypes]]: slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²),
    * intercept = (Σy − slope·Σx)/n, one closing double expression
    * mirrored in the oracle. x is the hour index ANCHORED at
    * 2024-01-01 — small exact integers, so every moment stays below
    * 2^53 and the nΣx² − (Σx)² cancellation is computed on exact
    * doubles (hours-since-1970 put ~8e20 against ~8e20 and amplified
    * representation noise past the round-6 guard). */
  val tsLinregTrend: QFn = (s, d) => {
    val anchor = unix_micros(lit("2024-01-01 00:00:00").cast("timestamp"))
    val x = ((unix_micros(bar) - anchor) / lit(3600000000L)).cast("double")
    val n = count(lit(1))
    val (sx, sy) = (dsum6(col("x")), dsum6(col("y")))
    val (sxx, sxy) = (dsum6(col("x") * col("x")), dsum6(col("x") * col("y")))
    Tables.events(s, d)
      .select(col("event_type"), x.as("x"), col("value").as("y"))
      .groupBy("event_type")
      .agg(n.as("n"),
        fq((n * sxy - sx * sy) / (n * sxx - sx * sx), 9).as("slope"),
        fq((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
          .as("intercept"))
      .orderBy("event_type")
  }

  /** Gap-filled hourly resample with forward fill: a generated hour
    * spine per event type (one `sequence` over the global [min, max]
    * bar range, exploded), left-joined to the observed hourly
    * averages, missing bars carried forward via
    * `last(ignoreNulls)`. The spine is |types| × |hours| rows —
    * broadcast-sized metadata next to the fact scan at any corpus
    * size; the fill window partitions by type, so no global sort. */
  val tsGapfill: QFn = (s, d) => {
    val e = Tables.events(s, d)
    val hourly = e.select(bar.as("bar"), col("event_type"), col("value"))
      .groupBy("bar", "event_type").agg(davg2(col("value")).as("avg_value"))
    val bounds = e.agg(min(bar).as("lo"), max(bar).as("hi"))
    val spine = bounds
      .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("bar"))
      .crossJoin(e.select("event_type").distinct())
    val wFill = Window.partitionBy("event_type").orderBy("bar")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("bar", "event_type"), "left")
      .withColumn("is_gap", col("avg_value").isNull.cast("int"))
      .withColumn("filled_value", last(col("avg_value"), ignoreNulls = true).over(wFill))
      .select("bar", "event_type", "is_gap", "filled_value")
      .orderBy("bar", "event_type")
  }

  /** Linear-interpolation resample — [[tsGapfill]]'s twin for the mid
    * price a quote store actually wants: a missing hourly bar gets
    * prev + (next − prev) · elapsed/gap, not a stale forward-copy.
    * The spine is hourly-regular, so bar POSITION (row_number per
    * type) replaces timestamp arithmetic — the interpolation fraction
    * is a ratio of small integers, exact in both engines. One window
    * pass in each direction carries the last/next observed value and
    * its position; edge bars missing an observation on either side
    * stay null (the left join's is_gap still marks them). Same
    * (event_type)-partitioned single-shuffle shape as gapfill. */
  val tsInterpolate: QFn = (s, d) => {
    val e = Tables.events(s, d)
    val hourly = e.select(bar.as("bar"), col("event_type"), col("value"))
      .groupBy("bar", "event_type").agg(davg2(col("value")).as("v"))
    val bounds = e.agg(min(bar).as("lo"), max(bar).as("hi"))
    val spine = bounds
      .select(explode(expr("sequence(lo, hi, interval 1 hour)")).as("bar"))
      .crossJoin(e.select("event_type").distinct())
    val wIdx = Window.partitionBy("event_type").orderBy("bar")
    val wPrev = wIdx.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = wIdx.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    spine.join(hourly, Seq("bar", "event_type"), "left")
      .withColumn("idx", row_number().over(wIdx))
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
      .withColumn("pi", last(when(col("v").isNotNull, col("idx")), ignoreNulls = true).over(wPrev))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
      .withColumn("ni", first(when(col("v").isNotNull, col("idx")), ignoreNulls = true).over(wNext))
      .select(col("bar"), col("event_type"),
        col("v").isNull.cast("int").as("is_gap"),
        fq(when(col("v").isNotNull, col("v"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            ((col("idx") - col("pi")).cast("double") / (col("ni") - col("pi")).cast("double"))),
          6).as("interp_value"))
      .orderBy("bar", "event_type")
  }

  /** Maximum drawdown per event type — the max adverse excursion of
    * `value` from its running peak in (ts, event_id) order, with the
    * trough row identified deterministically ((dd, ts, event_id)
    * tiebreak). The risk statistic every intraday price stream is
    * monitored by. One window shuffle on the type partition: the
    * running peak is a ROWS-UNBOUNDED-PRECEDING max (streaming-
    * friendly — no second pass), and the argmax is a row_number over
    * the same partitioning, so the whole key is a single exchange.
    * Exact: peak and dd are the same doubles in both engines (max and
    * subtraction are order-free given the pinned window order). */
  val tsDrawdown: QFn = (s, d) => {
    val wRun = Window.partitionBy("event_type").orderBy("uts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wArg = Window.partitionBy("event_type")
      .orderBy(col("dd").desc, col("uts"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_type"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("uts"))
      .withColumn("peak", max("value").over(wRun))
      .withColumn("dd", col("peak") - col("value"))
      .withColumn("rk", row_number().over(wArg))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("event_id").as("trough_event"),
        // round (not fq) retained: dd is a difference of raw <=2-dp
        // doubles, so it sits ON the 6-dp grid and a half-up tie is
        // unreachable in either engine (r9 round audit)
        round(col("dd"), 6).as("max_drawdown"), col("peak").as("peak_value"))
      .orderBy("event_type")
  }

  /** EWMA(α=0.2) over the trailing 24 hourly bars of each type's
    * price series. The weighted sum is computed as an ORDERED FOLD
    * (oldest → newest: acc = 0.8·acc + 0.2·x, acc₀ = 0) over the
    * window's `collect_list` — a fixed left-to-right IEEE sequence
    * both engines execute identically (DuckDB: `list_reduce` over the
    * 0-prepended window list), so the doubles are bit-exact with no
    * summation-order exposure; round(6) is belt and braces. The frame
    * is bounded at 24 rows, so the state per output row is O(1) at
    * any scale — the pandas `ewm` shape with a hard window, which is
    * also what keeps the weights away from pow-overflow territory. */
  val tsEwma: QFn = (s, d) => {
    val hourly = Tables.events(s, d)
      .groupBy(bar.as("bar"), col("event_type"))
      .agg(davg2(col("value")).as("px"))
    val w = Window.partitionBy("event_type").orderBy("bar")
      .rowsBetween(-23, 0)
    hourly
      .withColumn("arr", collect_list("px").over(w))
      .select(col("bar"), col("event_type"),
        fq(aggregate(col("arr"), lit(0.0),
          (acc, x) => acc * 0.8 + x * 0.2), 6).as("ewma"))
      .orderBy("bar", "event_type")
  }

  /** Rolling z-score ANOMALY flags — the monitoring/quant staple:
    * each hourly bar scored against the trailing 24 bars' mean/std
    * (frame ends at the PREVIOUS bar, so a spike never suppresses its
    * own detection), flagged at |z| > 2.5 after a 12-bar warm-up.
    * Cross-engine determinism, the integer micro-unit recipe (NOT a
    * decimal recast of derived doubles — casting an arbitrary double
    * to DECIMAL(30,6) rounds differently across engines when it lands
    * on the 6-dp boundary; one sf0.1 row did exactly that): the bar
    * average quantizes to exact MILLI-units (`floor(x·1e3)` — small
    * enough that Σq² over 24 bars stays far inside Long), the rolling
    * moments are exact integer window sums, and z derives from those
    * identical integers in one double expression. z rounds to 6. One
    * window per event_type partition + the hourly pre-aggregate — two
    * shuffles at any scale. */
  val tsAnomaly: QFn = (s, d) => {
    val hourly = Tables.events(s, d)
      .groupBy(bar.as("bar"), col("event_type"))
      .agg(davg2(col("value")).as("hour_avg"))
      .withColumn("q", floor(col("hour_avg") * 1000.0).cast("long"))
    val w = Window.partitionBy("event_type").orderBy("bar")
      .rowsBetween(-24, -1)
    hourly
      .withColumn("n", count(col("q")).over(w))
      .withColumn("s", sum(col("q")).over(w))
      .withColumn("ss", sum(col("q") * col("q")).over(w))
      .filter(col("n") >= 12)
      .withColumn("sd", sqrt(
        (col("ss").cast("double") -
          col("s").cast("double") * col("s").cast("double") / col("n")) /
          (col("n") - 1)))
      .withColumn("z", when(col("sd") > 0,
        fq((col("q").cast("double") -
          col("s").cast("double") / col("n")) / col("sd"), 6)))
      .filter(abs(col("z")) > 2.5)
      .select(col("bar"), col("event_type"), col("hour_avg"), col("z"))
      .orderBy("bar", "event_type")
  }

  val specs: Seq[KeySpec] = Seq(
    KeySpec.batch("ts_anomaly", tsAnomaly,
      // hourly pre-agg + the event_type rolling window + final sort
      shuffles = 3,
      // identical exact-integer rolling moments (milli-unit quantized
      // bar averages) → both engines derive z from the same integers
      s"""WITH hourly AS (
           SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bar, event_type,
             ${sqlAvg2("value")} AS hour_avg,
             CAST(floor(${sqlAvg2("value")} * 1000.0) AS BIGINT) AS q
           FROM events GROUP BY 1, 2),
         w AS (
           SELECT bar, event_type, hour_avg, q,
             count(q) OVER win AS n,
             CAST(sum(q) OVER win AS BIGINT) AS s,
             CAST(sum(q * q) OVER win AS BIGINT) AS ss
           FROM hourly
           WINDOW win AS (PARTITION BY event_type ORDER BY bar
             ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
         z AS (
           SELECT bar, event_type, hour_avg,
             CASE WHEN sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n-1)) > 0
               THEN ${sqlFq("(CAST(q AS DOUBLE) - CAST(s AS DOUBLE) / n) / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n-1))", 6)} END AS z
           FROM w WHERE n >= 12)
         SELECT bar, event_type, hour_avg, z FROM z
         WHERE abs(z) > 2.5 ORDER BY bar, event_type"""),
    KeySpec.batch("ts_ewma", tsEwma, shuffles = 3,
      // the same ordered fold, elementwise: 0-prepended window list,
      // left-to-right acc*0.8 + x*0.2 — identical IEEE sequence
      s"""WITH h AS (
           SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bar, event_type,
             ${sqlAvg2("value")} AS px
           FROM events GROUP BY 1, 2),
         wl AS (
           SELECT bar, event_type,
             list(px) OVER (PARTITION BY event_type ORDER BY bar
               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS l
           FROM h)
         SELECT bar, event_type,
           ${sqlFq("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), l), (acc, x) -> acc * CAST(0.8 AS DOUBLE) + x * CAST(0.2 AS DOUBLE))", 6)} AS ewma
         FROM wl ORDER BY bar, event_type"""),
    KeySpec.batch("ts_drawdown", tsDrawdown, shuffles = 2,
      """WITH t AS (
           SELECT event_type, event_id, value, CAST(ts AS TIMESTAMP) AS tts,
             max(value) OVER (PARTITION BY event_type
               ORDER BY CAST(ts AS TIMESTAMP), event_id
               ROWS UNBOUNDED PRECEDING) AS peak
           FROM events),
         dd AS (
           SELECT event_type, event_id, peak, peak - value AS dd,
             row_number() OVER (PARTITION BY event_type
               ORDER BY peak - value DESC, tts, event_id) AS rk
           FROM t)
         SELECT event_type, event_id AS trough_event,
           round(dd, 6) AS max_drawdown, peak AS peak_value
         FROM dd WHERE rk = 1 ORDER BY event_type"""),
    KeySpec.batch("ts_ohlc_bars", tsOhlcBars, shuffles = 2,
      """WITH t AS (
           SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bar, event_type,
             CAST(ts AS TIMESTAMP) AS tts, event_id, value,
             row_number() OVER (PARTITION BY date_trunc('hour', CAST(ts AS TIMESTAMP)), event_type
               ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn_a,
             row_number() OVER (PARTITION BY date_trunc('hour', CAST(ts AS TIMESTAMP)), event_type
               ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn_d
           FROM events)
         SELECT bar, event_type,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high, min(value) AS low,
           max(CASE WHEN rn_d = 1 THEN value END) AS close,
           count(*) AS n_ticks
         FROM t GROUP BY bar, event_type ORDER BY bar, event_type"""),
    KeySpec.batch("ts_vwap", tsVwap, shuffles = 2,
      s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bar,
            CASE WHEN sum(CAST(props->>'$$.k' AS INT)) = 0 THEN NULL
              ELSE ${sqlSum2("value * CAST(props->>'$.k' AS INT)")} / sum(CAST(props->>'$$.k' AS INT))
            END AS vwap,
            CAST(sum(CAST(props->>'$$.k' AS INT)) AS BIGINT) AS total_size,
            count(*) AS n_ticks
          FROM events GROUP BY 1 ORDER BY bar"""),
    KeySpec.batch("ts_gapfill", tsGapfill, shuffles = 4,
      s"""WITH hourly AS (
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bar, event_type,
              ${sqlAvg2("value")} AS avg_value
            FROM events GROUP BY 1, 2),
          bounds AS (
            SELECT min(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS lo,
              max(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hi
            FROM events),
          spine AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bar, et.event_type
            FROM bounds, (SELECT DISTINCT event_type FROM events) et)
          SELECT s.bar, s.event_type,
            CAST(h.avg_value IS NULL AS INT) AS is_gap,
            last_value(h.avg_value IGNORE NULLS) OVER (
              PARTITION BY s.event_type ORDER BY s.bar
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
          FROM spine s LEFT JOIN hourly h ON s.bar = h.bar AND s.event_type = h.event_type
          ORDER BY s.bar, s.event_type""")
      .crossJoinOk("crosses the generated hour spine with the <=5-value event-type dim — " +
        "O(1)-size build side"),
    KeySpec.batch("ts_interpolate", tsInterpolate, shuffles = 4,
      s"""WITH hourly AS (
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bar, event_type,
              ${sqlAvg2("value")} AS v
            FROM events GROUP BY 1, 2),
          bounds AS (
            SELECT min(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS lo,
              max(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS hi
            FROM events),
          spine AS (
            SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bar, et.event_type
            FROM bounds, (SELECT DISTINCT event_type FROM events) et),
          j AS (
            SELECT s.bar, s.event_type, h.v,
              row_number() OVER (PARTITION BY s.event_type ORDER BY s.bar) AS idx
            FROM spine s LEFT JOIN hourly h ON s.bar = h.bar AND s.event_type = h.event_type),
          f AS (
            SELECT bar, event_type, v, idx,
              last_value(v IGNORE NULLS) OVER wp AS pv,
              last_value(CASE WHEN v IS NOT NULL THEN idx END IGNORE NULLS) OVER wp AS pi,
              first_value(v IGNORE NULLS) OVER wn AS nv,
              first_value(CASE WHEN v IS NOT NULL THEN idx END IGNORE NULLS) OVER wn AS ni
            FROM j
            WINDOW wp AS (PARTITION BY event_type ORDER BY bar
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
              wn AS (PARTITION BY event_type ORDER BY bar
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
          SELECT bar, event_type, CAST(v IS NULL AS INT) AS is_gap,
            ${sqlFq("CASE WHEN v IS NOT NULL THEN v ELSE pv + (nv - pv) * (CAST(idx - pi AS DOUBLE) / CAST(ni - pi AS DOUBLE)) END", 6)} AS interp_value
          FROM f ORDER BY bar, event_type""")
      .crossJoinOk("shares ts_gapfill's spine × event-type-dim cross"),
    KeySpec.batch("ts_twap", tsTwap, shuffles = 2,
      s"""WITH t AS (
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bar, event_id, value,
              epoch_us(CAST(ts AS TIMESTAMP)) AS uts
            FROM events),
          x AS (
            SELECT bar, value,
              coalesce(lead(uts) OVER (PARTITION BY bar ORDER BY uts, event_id),
                epoch_us(bar + INTERVAL 1 HOUR)) - uts AS dt
            FROM t)
          SELECT bar,
            CASE WHEN sum(dt) = 0 THEN NULL
                 ELSE ${sqlSum2("value * dt")} / sum(dt) END AS twap,
            count(*) AS n_ticks
          FROM x GROUP BY bar ORDER BY bar"""),
    KeySpec.batch("ts_corr_types", tsCorrTypes, shuffles = 3,
      s"""WITH hourly AS (
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bar, event_type,
              ${sqlAvg2("value")} AS v
            FROM events GROUP BY 1, 2),
          j AS (
            SELECT x.v AS x, y.v AS y
            FROM (SELECT bar, v FROM hourly WHERE event_type = 'purchase') x
            JOIN (SELECT bar, v FROM hourly WHERE event_type = 'click') y
              USING (bar))
          SELECT count(*) AS n_bars,
            ${sqlFq(s"""(count(*) * ${sqlSum6("x * y")} - ${sqlSum6("x")} * ${sqlSum6("y")})
              / sqrt((count(*) * ${sqlSum6("x * x")} - ${sqlSum6("x")} * ${sqlSum6("x")})
                   * (count(*) * ${sqlSum6("y * y")} - ${sqlSum6("y")} * ${sqlSum6("y")}))""",
              6)} AS corr
          FROM j"""),
    KeySpec.batch("ts_realized_vol", tsRealizedVol, shuffles = 2,
      s"""WITH t AS (
            SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bar, event_id,
              value, epoch_us(CAST(ts AS TIMESTAMP)) AS uts
            FROM events),
          x AS (
            SELECT bar, value,
              lead(value) OVER (PARTITION BY bar ORDER BY uts, event_id) AS nv
            FROM t),
          r AS (
            SELECT bar,
              CASE WHEN value > 0 AND nv > 0 THEN round(ln(nv / value), 6) END AS r
            FROM x)
          SELECT bar, ${sqlFq("sqrt(" + sqlSum6("r * r") + ")", 6)} AS rv,
            count(r) AS n_returns
          FROM r GROUP BY bar ORDER BY bar"""),
    KeySpec.batch("ts_linreg_trend", tsLinregTrend, shuffles = 2,
      s"""WITH t AS (
            SELECT event_type,
              CAST(epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)))
                   - epoch_us(TIMESTAMP '2024-01-01 00:00:00') AS DOUBLE)
                / CAST(3600000000 AS DOUBLE) AS x,
              value AS y
            FROM events)
          SELECT event_type, count(*) AS n,
            ${sqlFq(s"""(count(*) * ${sqlSum6("x * y")} - ${sqlSum6("x")} * ${sqlSum6("y")})
              / (count(*) * ${sqlSum6("x * x")} - ${sqlSum6("x")} * ${sqlSum6("x")})""", 9)}
              AS slope,
            ${sqlFq(s"""(${sqlSum6("y")}
              - (count(*) * ${sqlSum6("x * y")} - ${sqlSum6("x")} * ${sqlSum6("y")})
                / (count(*) * ${sqlSum6("x * x")} - ${sqlSum6("x")} * ${sqlSum6("x")})
                * ${sqlSum6("x")}) / count(*)""", 6)} AS intercept
          FROM t GROUP BY event_type ORDER BY event_type"""))
}
