package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Synthetic scale-up replica tool (r4 verdict item 1): materialize an
  * N× copy of a testdata scale factor into a scratch directory so the
  * 100 TB "scales by design" judgments can be *measured* instead of
  * argued from plan shape. `/root/testdata` is read-only, so the
  * replica lives in tmp; keys are remapped per replica so every
  * surrogate stays unique and every FK stays valid.
  *
  * Replica design — the point is that a 10× run should look like a
  * BIGGER corpus, not ten stacked copies of the same one:
  *
  *  - `region`/`nation` are fixed FK domains (5 / 25 rows): one copy.
  *  - Fact/entity surrogate keys get `+ r * KEY_STRIDE` (stride far
  *    above any real key), applied consistently on both sides of every
  *    FK (orders.o_custkey moves with customer.c_custkey, lineitem
  *    moves with orders/part/supplier, events.user_id grows the user
  *    population 10× with its %10 cohort distribution intact).
  *  - `documents.text` in replica r > 0 gets every word suffixed with
  *    the replica tag (`word~r`): a 1:1 word map, so bigram shingles
  *    map 1:1 and the Jaccard of any two docs WITHIN a replica is
  *    exactly the original value (planted exact/near-dup clusters
  *    replicate faithfully), while cross-replica vocabularies are
  *    disjoint — no doc gains 9 cross-replica twins (which would make
  *    candidate-pair volume superlinear and measure an artifact, not
  *    scaling). Token counts and word-length statistics shift only by
  *    the constant 2-char suffix. (A word-shuffle variant was tried
  *    first and rejected: sorting every doc's words by a shared hash
  *    puts common vocabulary into one canonical order, manufacturing
  *    shared bigrams between unrelated docs — intra-replica candidate
  *    volume inflated superlinearly.)
  *  - `embeddings` in replica r > 0 get one dimension nudged by r/1000
  *    (dimension chosen per vec_id): breaks exact-tie top-k ambiguity
  *    while keeping the vector distribution essentially unchanged.
  *  - `events.ts` is written as TimestampNTZ µs — the same footer
  *    shape as the driver testdata, so replicas take the identical
  *    [[Tables.loadEvents]] branch; everything else round-trips
  *    through the [[Tables.schemas]] contract types unchanged.
  */
object Replicate {

  /** Well above every real key in any sf (max observed: 600k). */
  val KeyStride = 10000000L
  // hubSkew's hub identity (pmod(o_orderkey, 8)) and the ~30% hot
  // slice (pmod(·, 10)) are computed on the ALREADY stride-shifted
  // key, so the same 8 hubs / same slice span every replica ONLY while
  // the stride is divisible by both — a future stride change must fail
  // here, not silently fragment the hubs per replica and void the
  // degree-skew rung (r13 ADVICE)
  require(KeyStride % 40 == 0,
    s"KeyStride $KeyStride must stay divisible by 40 (8·lcm with the " +
      "%10 hot slice) or hubSkew's global-hub invariant breaks")
  /** events.user_id domain is 0..1499; stride keeps cohort (%10) mix. */
  val UserStride = 10000L

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else
      s"${System.getProperty("java.io.tmpdir")}/graft_sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val skew = args.length > 3 && args(3) == "skew"
    val hubSkew = args.length > 3 && args(3) == "hubskew"
    val spark = GraftSession.local(GraftSession.cores)
    run(spark, src, dst, factor, skew, hubSkew)
    spark.stop()
  }

  /** SKEWED rung (r10 verdict #2): every uniform replica is zipf-less
    * by construction — real 100 TB corpora are not. With `skew = true`
    * the replica plants one dominant key per axis, each on a
    * deterministic ~30% slice of rows (`pmod(id, 10) < 3`), so the
    * skew-sensitive keys see a hot reducer/window/state partition:
    *  - events: user 7 absorbs ~30% of ALL rows (stream_session /
    *    stream_dedup state skew, per-user windows), and event_type
    *    'view' absorbs an extra 30% slice (~44% total — hot window
    *    partition for the ts keys);
    *  - orders: customer 1 holds ~30% of orders (hot graph hub, hot
    *    groupBy key in the composite queries);
    *  - lineitem: supplier 1 holds ~30% of line items (the second
    *    graph hub; both hot slices key on the SAME orderkey pmod, so
    *    they are fully correlated — the hot ~30% of joined rows ALL
    *    map to the single (customer 1, supplier 1) edge, not the
    *    ~9% an independent 0.3 × 0.3 would give);
    *  - documents: source 'src1' holds ~30% of docs (temperature /
    *    stratified sampling weight skew).
    * FKs stay valid — every dominant key exists in replica 0's
    * domain and is NOT stride-shifted on either side of the join.
    * Results legitimately differ from the uniform replica; the spot
    * oracles run DuckDB ON the skewed replica itself.
    *
    * HUB-skew rung (r12 verdict #5): the `skew` mode above pins BOTH
    * join sides on the same orderkey slice, so its hot rows collapse
    * into the single (customer 1, supplier 1) edge after the edge
    * build's distinct — a hot-ROW stress, not a hot-NODE one (and the
    * graph keys actually got FASTER on it: ARCHIVE §18). `hubSkew`
    * pins ONLY the customer side, spreading the hot ~30% of orders
    * over 8 GLOBAL hub customers (ids 1..8, never stride-shifted)
    * while suppliers keep their full per-replica diversity — each hub
    * accumulates edges to ~every supplier of every replica (~10k·R
    * distinct neighbors at factor R, ≫ √E), the zipf head a real
    * co-interaction graph carries. Everything else stays uniform, so
    * a graph-key A/B against the uniform replica isolates the
    * degree-skew axis. */
  def run(spark: SparkSession, src: String, dst: String, factor: Int,
      skew: Boolean = false, hubSkew: Boolean = false): Unit = {
    val t0 = System.nanoTime()
    /** ~30% deterministic slice of any integral id column. */
    def hot(id: Column): Column = pmod(id, lit(10)) < 3
    // fixed dims: single copy
    Seq("region", "nation").foreach { t =>
      Tables.load(spark, src, t).write.mode("overwrite")
        .parquet(s"$dst/$t.parquet")
    }

    def shifted(name: String, keys: Seq[String],
        extra: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      val base = Tables.load(spark, src, name)
      val copies = (0 until factor).map { r =>
        val k = keys.foldLeft(base)((df, c) =>
          df.withColumn(c, col(c) + lit(r * KeyStride)))
        extra(k, r)
      }
      copies.reduce(_.unionAll(_)).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")
    }

    shifted("customer", Seq("c_custkey"))
    shifted("supplier", Seq("s_suppkey"))
    shifted("part", Seq("p_partkey"))
    shifted("orders", Seq("o_orderkey", "o_custkey"), (df, _) =>
      if (skew) df.withColumn("o_custkey",
        when(hot(col("o_orderkey")), lit(1L)).otherwise(col("o_custkey")))
      else if (hubSkew) df.withColumn("o_custkey",
        when(hot(col("o_orderkey")),
          pmod(col("o_orderkey"), lit(8)) + 1).otherwise(col("o_custkey")))
      else df)
    shifted("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"), (df, _) =>
      if (!skew) df
      else df.withColumn("l_suppkey",
        when(hot(col("l_orderkey")), lit(1L)).otherwise(col("l_suppkey"))))

    // events: load through the unit-adaptive [[Tables.loadEvents]] and
    // write ts as TimestampNTZ µs — the exact footer shape the driver
    // testdata carries — so the replica round-trips through the same
    // loadEvents branch as the original (raw-int64 replicas broke the
    // moment the testdata's ts unit changed underneath them)
    val ev = Tables.events(spark, src)
      .withColumn("ts", col("ts").cast(TimestampNTZType))
    (0 until factor).map { r =>
      val base = ev.withColumn("event_id", col("event_id") + lit(r * KeyStride))
        .withColumn("user_id", col("user_id") + lit(r * UserStride))
      if (!skew) base
      // KeyStride % 10 == 0, so the hot slice is the same ~30% of
      // every replica — user 7 / 'view' go truly global, not per-copy
      else base
        .withColumn("user_id",
          when(hot(col("event_id")), lit(7L)).otherwise(col("user_id")))
        .withColumn("event_type",
          when(pmod(col("event_id"), lit(10)) >= 7, lit("view"))
            .otherwise(col("event_type")))
    }.reduce(_.unionAll(_)).write.mode("overwrite")
      .parquet(s"$dst/events.parquet")

    // per-WORD rewrite, not reorder: suffixing every word with the
    // replica tag maps word-bigram shingles 1:1, so the Jaccard of any
    // two docs WITHIN a replica is exactly the original value (planted
    // exact/near-dup clusters replicate faithfully) while cross-replica
    // overlap is zero. (A word-shuffle variant was tried first and
    // inflated intra-replica similarity superlinearly: sorting every
    // doc's words by one hash puts shared vocabulary into one canonical
    // order, manufacturing shared bigrams between unrelated docs.)
    shifted("documents", Seq("doc_id"), (df, r) => {
      val tagged =
        if (r == 0) df
        else df.withColumn("text", array_join(
          transform(split(col("text"), " "),
            w => concat(w, lit(s"~$r"))), " "))
      if (!skew) tagged
      else tagged.withColumn("source",
        when(hot(col("doc_id")), lit("src1")).otherwise(col("source")))
    })

    shifted("embeddings", Seq("vec_id"), (df, r) =>
      if (r == 0) df
      else df.withColumn("embedding",
        transform(col("embedding"), (x, j) =>
          when(j === pmod(col("vec_id"), size(col("embedding"))),
            (x + lit(r * 0.001)).cast(FloatType)).otherwise(x))))

    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[replicate] $src -> $dst x$factor in $secs%.1f s")
    Tables.all.foreach { t =>
      val n = Tables.load(spark, dst, t).count()
      println(s"[replicate] $t rows=$n")
    }
  }
}
