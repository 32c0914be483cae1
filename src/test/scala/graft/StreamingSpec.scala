package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Streaming (§2.8): watermark late-data semantics with a hand-built
  * out-of-order feed, and append-mode closure for the registered keys. */
class StreamingSpec extends SparkTestBase {

  import streaming.Streaming.Ev

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def ev(id: Long, minute: Int, v: Double = 1.0) =
    Ev(id, ts(minute), 1L, "click", v, "{}")

  test("watermark drops rows later than the threshold") {
    import spark.implicits._
    val stream = MemoryStream[Ev](spark)
    val sink = s"late_spec_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = stream.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: events at minute 0..9 and 60 → watermark becomes 60-10=50
      stream.addData(ev(1, 0), ev(2, 5), ev(3, 9), ev(4, 60))
      q.processAllAvailable()
      // batch 2: a LATE row at minute 5 (before watermark 50) must be
      // dropped; a row at minute 55 (after watermark) must be counted
      stream.addData(ev(5, 5), ev(6, 55))
      q.processAllAvailable()
      // close everything: advance watermark far past minute 60
      stream.addData(ev(7, 600))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(sink)
      .select(col("window.start").cast("string").as("w"), col("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // [0,10) window: 3 on-time rows; the late 4th arrival was dropped
    assert(rows("2024-01-01 00:00:00") == 3L,
      s"late row was not dropped: $rows")
    // [50,60) window: the minute-55 row arrived before its window closed
    assert(rows("2024-01-01 00:50:00") == 1L)
    assert(rows("2024-01-01 01:00:00") == 1L)
  }

  test("dropDuplicatesWithinWatermark drops in-horizon dupes and evicts state") {
    import spark.implicits._
    val stream = MemoryStream[Ev](spark)
    val sink = s"dedup_spec_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = stream.toDF()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: id=1 sent twice in one batch → exactly one row emitted
      stream.addData(ev(1, 0), ev(1, 0))
      q.processAllAvailable()
      // batch 2: id=1 again, within the 10-min horizon → dropped as a
      // duplicate; id=9 at minute 60 advances the watermark to 50,
      // which is past id=1's expiry (0 + 10) → its state is EVICTED
      stream.addData(ev(1, 1), ev(9, 60))
      q.processAllAvailable()
      // batch 3: id=1 once more at minute 55 (> watermark 50, so not
      // late). Its dedup state is gone — the row is emitted AGAIN:
      // bounded state trades unbounded-horizon dedup for eviction,
      // exactly the documented WithinWatermark contract.
      stream.addData(ev(1, 55))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table(sink).groupBy("event_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ids(9L) == 1L)
    assert(ids(1L) == 2L,
      s"expected id=1 emitted twice (dedup within horizon, re-emit after eviction): $ids")
    assert(spark.table(sink).count() == 3L)
  }

  test("stream_late_data emits only watermark-closed windows") {
    val appended = streaming.Streaming.streamLateData(spark, sf).count()
    val allWindows = Tables.events(spark, sf)
      .select(date_trunc("hour", col("ts")).as("w"), col("event_type"))
      .distinct().count()
    assert(appended > 0, "no windows closed")
    assert(appended <= allWindows, "append emitted more than exists")
  }

  test("stream_late_data_final really drops the late cohort (fewer windows than the full aggregate)") {
    val kept = streaming.Streaming.streamLateDataFinal(spark, sf).count()
    val allWindows = Tables.events(spark, sf)
      .select(date_trunc("hour", col("ts")).as("w"), col("event_type"))
      .distinct().count()
    assert(kept > 0, "nothing emitted")
    // the 15-day late cohort's sealed windows must be absent — if the
    // drop path silently stopped firing (the r9 2-batch-feed lesson:
    // no eviction beforehand means nothing is ever late), kept would
    // equal allWindows and the key would be asserting nothing
    assert(kept < allWindows,
      s"late rows were not dropped: $kept emitted of $allWindows total")
  }

  test("windowed append keys equal batch twins with BOUNDED state") {
    // accurate state-row totals are opt-in (read-before-write cost);
    // this is the spec that needs them
    streaming.Streaming.trackStateRows = true
    try {
    // tumbling: batch-equivalence (the oracle's contract) …
    val tumbled = streaming.Streaming.streamTumbling(spark, sf).collect()
    val batch = Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("w_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), Det.dsum2(col("value")).as("sum_value"))
      .orderBy("w_start", "event_type").collect()
    assert(tumbled.map(_.toString).toSeq == batch.map(_.toString).toSeq)
    // … AND bounded state: after the sentinel flush the store holds
    // only the unsealed sentinel windows — not every window ever seen
    // (Complete mode held all of them; that was the scale-killer).
    val tumblingState = streaming.Streaming.lastStateRowsTotal
    assert(tumblingState >= 0 && tumblingState <= 4,
      s"tumbling state not bounded: $tumblingState rows vs ${batch.length} windows")

    val slid = streaming.Streaming.streamSliding(spark, sf).count()
    assert(slid > 0)
    val slidingState = streaming.Streaming.lastStateRowsTotal
    assert(slidingState >= 0 && slidingState <= 8,
      s"sliding state not bounded: $slidingState rows vs $slid windows")

    val sessioned = streaming.Streaming.streamSession(spark, sf).count()
    assert(sessioned > 0)
    val sessionState = streaming.Streaming.lastStateRowsTotal
    assert(sessionState >= 0 && sessionState <= 4,
      s"session state not bounded: $sessionState rows vs $sessioned sessions")
    } finally streaming.Streaming.trackStateRows = false
  }

  test("stream-static join: stateless enrichment equals the batch join, no join state") {
    streaming.Streaming.trackStateRows = true
    try {
      val got = streaming.Streaming.streamStaticJoin(spark, sf).collect()
      val profile = Tables.events(spark, sf)
        .groupBy("user_id").agg(count(lit(1)).as("user_events"))
        .select(col("user_id"), expr("user_events div 20").as("band"))
      val batch = Tables.events(spark, sf).join(profile, "user_id")
        .groupBy(date_trunc("hour", col("ts")).as("w_start"), col("band"))
        .agg(count(lit(1)).as("n"), Det.dsum2(col("value")).as("sum_value"))
        .orderBy("w_start", "band").collect()
      assert(got.map(_.toString).toSeq == batch.map(_.toString).toSeq,
        s"stream-static result != batch join (${got.length} vs ${batch.length} rows)")
      // the join itself is STATELESS (static side re-broadcast per
      // batch, no symmetric-hash state); residual state is only the
      // aggregation's unsealed sentinel windows
      val st = streaming.Streaming.lastStateRowsTotal
      assert(st >= 0 && st <= 4,
        s"expected only unsealed agg windows in state, got $st rows")
    } finally streaming.Streaming.trackStateRows = false
  }

  test("the staged feed's chunk cuts depend only on the events") {
    // (file, rows, min ts, max ts) of a fresh staging of the plain feed
    def staged(): Seq[(String, Long, String, String)] = {
      val dir = scratchDir("feed_cuts")
      streaming.Streaming.writeFeed(spark, sf, flush = false, dir)
      new java.io.File(dir).listFiles().map(_.getName).filter(_.endsWith(".parquet"))
        .sorted.toSeq.map { f =>
          val r = spark.read.parquet(s"$dir/$f")
            .agg(count(lit(1)), min("ts").cast("string"), max("ts").cast("string")).head()
          (f, r.getLong(0), r.getString(1), r.getString(2))
        }
    }
    val first = staged()
    // a sampled range cut is seeded by the RDD id: move the id on
    (1 to 17).foreach(i => spark.sparkContext.parallelize(1 to i))
    val second = staged()
    assert(first.size >= 2, s"the feed must replay in >= 2 micro-batches: $first")
    assert(first.map(_._2).sum == Tables.events(spark, sf).count())
    assert(first == second, s"two stagings of one table cut differently: $first vs $second")
  }

  test("streaming keys equal their batch twins (dedup + stateful)") {
    val streamed = streaming.Streaming.streamDedup(spark, sf).collect()
    val batch = Tables.events(spark, sf).groupBy("event_type")
      .agg(count(lit(1)).as("n"), Det.dsum2(col("value")).as("sum_value"))
      .orderBy("event_type").collect()
    assert(streamed.map(_.toString).toSeq == batch.map(_.toString).toSeq)

    val batchState = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), Det.dsum2(col("value")).as("t"))
      .orderBy("user_id").collect()
    // both stateful surfaces — mapGroupsWithState and the Spark-4
    // transformWithState processor — must agree with the batch twin
    for (state <- Seq(streaming.Streaming.streamStateful(spark, sf).collect(),
      streaming.Streaming.streamStatefulTws(spark, sf).collect())) {
      assert(state.length == batchState.length)
      state.zip(batchState).foreach { case (s, b) =>
        assert(s.getLong(0) == b.getLong(0) && s.getLong(1) == b.getLong(1))
        assert(math.abs(s.getDouble(2) - b.getDouble(2)) < 1e-9)
      }
    }

    // MapState: the final per-(user, type) count is the batch count
    val typeCounts = Tables.events(spark, sf).groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n")).orderBy("user_id", "event_type").collect()
    assert(streaming.Streaming.streamStatefulMap(spark, sf).collect().map(_.toString).toSeq ==
      typeCounts.map(_.toString).toSeq)

    // ListState: the final last-3 purchase mean per user, summed in
    // exact decimal and divided once, as the processor does
    import org.apache.spark.sql.expressions.Window
    val recent = Tables.events(spark, sf).filter(col("event_type") === "purchase")
      .withColumn("rn", row_number().over(Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)))
      .withColumn("n_total", count(lit(1)).over(Window.partitionBy("user_id")))
      .filter(col("rn") <= 3)
      .groupBy("user_id", "n_total")
      .agg(count(lit(1)).as("n_recent"),
        (Det.dsum2(col("value")) / count(lit(1))).as("recent_mean"))
      .orderBy("user_id").collect()
    assert(recent.nonEmpty)
    assert(streaming.Streaming.streamStatefulList(spark, sf).collect().map(_.toString).toSeq ==
      recent.map(_.toString).toSeq)
  }

  test("outer stream join actually exercises the null-emission path") {
    // equivalence with the batch left join is the oracle gate's job;
    // this guards the semantics from silently degrading to INNER
    // (which would also pass rows>0): there must be purchases whose
    // click slot is null, and exactly as many as the batch side says
    import org.apache.spark.sql.functions._
    val r = SparkEntry.queries("stream_join_outer")(spark, sf).cache()
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"))
    val matched = p.join(c, Seq("user_id"))
      .filter(col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .select("purchase_id").distinct()
    val expectedNulls = p.select("purchase_id").distinct().count() - matched.count()
    val gotNulls = r.filter(col("click_id").isNull).count()
    assert(expectedNulls > 0, "fixture has no unmatched purchases — test is vacuous")
    assert(gotNulls == expectedNulls,
      s"null-click rows $gotNulls != batch unmatched purchases $expectedNulls")
    r.unpersist()
  }

  test("full/right outer stream joins emit nulls on the correct side(s)") {
    // same guard as the left-outer test: batch equivalence is the
    // oracle gate's job; this pins the null-emission SIDES so a silent
    // degradation to inner (or to left outer) cannot pass. The batch
    // expectations are computed once from the events table.
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
    val pairs = p.join(c, Seq("user_id"))
      .filter(col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts")).cache()
    val unmatchedP = p.select("purchase_id").distinct().count() -
      pairs.select("purchase_id").distinct().count()
    val unmatchedC = c.select("click_id").distinct().count() -
      pairs.select("click_id").distinct().count()
    assert(unmatchedP > 0 && unmatchedC > 0,
      "fixture lacks unmatched rows on a side — test is vacuous")

    val full = SparkEntry.queries("stream_join_full_outer")(spark, sf).cache()
    assert(full.filter(col("click_id").isNull).count() == unmatchedP,
      "full outer: null-click rows != batch unmatched purchases")
    assert(full.filter(col("purchase_id").isNull).count() == unmatchedC,
      "full outer: null-purchase rows != batch unmatched clicks")
    full.unpersist()

    val right = SparkEntry.queries("stream_join_right_outer")(spark, sf).cache()
    assert(right.filter(col("purchase_id").isNull).count() == unmatchedC,
      "right outer: null-purchase rows != batch unmatched clicks")
    assert(right.filter(col("click_id").isNull).count() == 0,
      "right outer must never emit a null click")
    right.unpersist()

    // semi join: exactly the matched purchases, each emitted ONCE even
    // when several clicks fall in its window (the at-most-once semi
    // contract a degenerate inner join would break)
    val semi = SparkEntry.queries("stream_join_semi")(spark, sf).cache()
    assert(semi.count() == pairs.select("purchase_id").distinct().count(),
      "semi join row count != batch matched purchases")
    assert(semi.select("purchase_id").distinct().count() == semi.count(),
      "semi join emitted a purchase more than once")
    semi.unpersist()
    pairs.unpersist()
  }

  test("snapshot sink commits one version per micro-batch with snapshot isolation") {
    import operators.SnapshotTable
    val agg = streaming.Streaming.streamSnapshotSink(spark, sf).collect()
    assert(agg.nonEmpty)
    val root = Tables.sinkPath(spark, sf, "snapsink")
    val last = SnapshotTable.latestVersion(root)
    assert(last >= 1, "AvailableNow replay must commit >= 2 epochs")
    // one unit added per version; row counts strictly monotone; the
    // final snapshot holds exactly the full replay
    val counts = (0 to last).map { v =>
      val snap = SnapshotTable.readSnapshot(spark, root, v)
      assert(snap.inputFiles.length == v + 1,
        s"version $v must list exactly ${v + 1} units")
      snap.count()
    }
    assert(counts.zip(counts.tail).forall { case (a, b) => a < b },
      s"snapshot row counts must grow per commit: $counts")
    assert(counts.last == Tables.events(spark, sf).count())
  }
}
