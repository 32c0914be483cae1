package graft.operators

import graft.{KeySpec, QFn, Tables, Det}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Second coverage batch: the bucketed range join (the 100 TB path
  * for interval joins) and the bitwise/hash scalar family. */
object Extras2 {

  import Det._

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

  /** Bitwise + hash function family. */
  val fnBitwiseHash: QFn = (s, d) =>
    Tables.part(s, d).select(
      col("p_partkey"),
      col("p_partkey").bitwiseAND(lit(255L)).as("band"),
      col("p_partkey").bitwiseOR(lit(4096L)).as("bor"),
      col("p_partkey").bitwiseXOR(lit(21L)).as("bxor"),
      shiftleft(col("p_partkey"), 3).as("shl"),
      shiftright(col("p_partkey"), 2).as("shr"),
      bit_count(col("p_partkey")).as("popcnt"),
      md5(col("p_name")).as("md5_hex"),
      sha2(col("p_brand"), 256).as("sha256_hex"),
      length(sha2(concat(col("p_name"), col("p_type")), 512)).as("sha512_len"))
      .orderBy("p_partkey")

  /** Bucketed co-located join — THE 100 TB layout decision for
    * repeated fact-to-fact joins: both tables written once with
    * `bucketBy(N, key).sortBy(key)` into the catalog, after which
    * every join on the key is planned WITHOUT a shuffle on either
    * side (bucket i joins bucket i locally; the spec asserts zero
    * ShuffleExchange in the join subplan). Amortizes the shuffle that
    * `join_inner_equi` pays per query into a one-time layout cost —
    * on a petabyte fact table that is the difference between a
    * re-shuffle per query and none. The bucketed copies live in the
    * session warehouse (tmp); rewritten per (session, sf) so stale
    * layouts can never leak across scale factors. */
  val joinBucketedColocated: QFn = (s, d) => {
    val suffix = d.replaceAll("[^a-zA-Z0-9]", "_")
    val (tl, to) = (s"bkt_lineitem_$suffix", s"bkt_orders_$suffix")
    if (!s.catalog.tableExists(tl) || !s.catalog.tableExists(to)) {
      // the in-memory catalog is per-JVM but the warehouse directory is
      // not: clear any orphan location from a previous run before the
      // CREATE, or saveAsTable fails with LOCATION_ALREADY_EXISTS
      val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      Seq(tl, to).foreach { t =>
        val dir = new java.io.File(wh, t)
        if (dir.exists()) {
          import scala.reflect.io.Directory
          new Directory(dir).deleteRecursively()
        }
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
    dppJoinOnly(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
      .orderBy("event_type")
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
    s.read.parquet(tight)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  /** Spark 4 collation: case-insensitive (UTF8_LCASE) vs binary
    * string comparison as first-class column semantics — no more
    * lower()-wrapping every predicate. The oracle expresses the same
    * comparisons with explicit case folding. */
  val fnCollation: QFn = (s, d) =>
    Tables.part(s, d).select(
      col("p_partkey"),
      (collate(upper(col("p_type")), "UTF8_LCASE") ===
        collate(col("p_type"), "UTF8_LCASE")).as("ci_eq"),
      (upper(col("p_type")) === col("p_type")).as("bin_eq"),
      startswith(collate(upper(col("p_name")), "UTF8_LCASE"),
        collate(lit("std"), "UTF8_LCASE")).as("ci_prefix"))
      .orderBy("p_partkey")

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
    import scala.reflect.io.Directory
    new Directory(new java.io.File(path)).deleteRecursively()
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
    s.read.parquet(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

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
  /** Bucket count of the GDPR layout. The eraser MUST hash with the
    * same modulus the writer laid the table out with — a mismatch
    * targets nonexistent partitions and silently leaves the erased
    * users' files alive — so both sides share this one constant
    * instead of taking it as a parameter. */
  val GdprBuckets = 16

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
    s.read.parquet(path).groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")
  }

  /** Executed (adaptive-final) plan of the last [[joinSkewAqe]] run —
    * spec diagnostic for the OptimizeSkewedJoin assertion. */
  @volatile var lastSkewJoinPlan: String = ""

  /** The same executed plan as a live SparkPlan, so PlanAudit can run
    * its structural checks (countShuffles, smell scan) against the
    * construction-time join instead of the returned LocalTableScan.
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
    * INSIDE the conf scope (plan captured in [[lastSkewJoinPlan]] /
    * [[lastSkewJoinExec]]); its own ~11 collected rows return as a
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
    val prev = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    val rows = try {
      val skewed = build()
      val out = skewed.collect() // ~11 aggregated rows; runs the skew-split join
      lastSkewJoinPlan = skewed.queryExecution.executedPlan.toString
      lastSkewJoinExec.set(skewed.queryExecution.executedPlan)
      (out, skewed.schema)
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
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

  /** Oracle of `etl_compaction`, `stream_snapshot_sink`, `stream_file_source`, `stream_incremental_resume` and `stream_dedup`. */
  val eventTypeTotalsSql: String =
    """SELECT event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY event_type ORDER BY event_type"""

  val specs: Seq[KeySpec] = Seq(
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
    KeySpec.batch("etl_compaction", etlCompaction, shuffles = 2, eventTypeTotalsSql)
      .constructionJobsOk("writes the small-file layout it compacts"),
    KeySpec.batch("fn_collation", fnCollation, shuffles = 1,
      """SELECT p_partkey,
           lower(upper(p_type)) = lower(p_type) AS ci_eq,
           upper(p_type) = p_type AS bin_eq,
           starts_with(lower(upper(p_name)), lower('std')) AS ci_prefix
         FROM part ORDER BY p_partkey"""),
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
      """WITH dim AS (
           SELECT event_type AS dim_type, count(*) AS type_n
           FROM events GROUP BY event_type)
         SELECT e.event_type, count(*) AS n,
           CAST(sum(CAST(e.value AS DECIMAL(30,2))) AS DOUBLE) AS sum_value
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
      .constructionJobsOk("writes the interleaved layout it range-scans"),
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
      Relational.intervalJoinSql),
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
    KeySpec.batch("fn_bitwise_hash", fnBitwiseHash, shuffles = 1,
      """SELECT p_partkey,
           p_partkey & 255 AS band,
           p_partkey | 4096 AS bor,
           xor(p_partkey, 21) AS bxor,
           p_partkey << 3 AS shl,
           p_partkey >> 2 AS shr,
           CAST(bit_count(p_partkey) AS INT) AS popcnt,
           md5(p_name) AS md5_hex,
           sha256(p_brand) AS sha256_hex,
           128 AS sha512_len
         FROM part ORDER BY p_partkey"""),
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
