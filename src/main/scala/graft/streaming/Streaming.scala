package graft.streaming

import graft.{Det, GraftSession, KeySpec, QFn, Tables}
import graft.operators.{Etl, TimeSeries}
import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor,
  StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types.DecimalType
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Structured Streaming operators (SURVEY.md §2.8) over the `events`
  * table replayed in timestamp order through a staged parquet file
  * feed ([[stagedFeed]] — the production lake-directory ingest shape).
  *
  * Each `queries` entry runs a REAL streaming query (micro-batch
  * execution, state store, watermarks) to completion and returns the
  * final sink table, so the driver's batch-shaped contract still
  * applies. Events are fed in bounded ts-ordered chunks (≥2 files,
  * one micro-batch each — see [[chunkSizeFor]]) so watermarks advance
  * mid-stream and stateful operators exercise their merge path.
  * Results equal the equivalent batch aggregation (the oracle) —
  * the streaming/batch unification Spark guarantees and the specs
  * assert.
  *
  * Scale path: swap the staged directory for Kafka/a live lake feed;
  * the query bodies are unchanged. State is keyed by high-cardinality
  * keys (user_id, window), so state stores shard across executors.
  */
object Streaming {

  import Det._

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

  /** `transformWithState` processor: per-user running purchase count +
    * exact decimal total in one named ValueState. */
  class PurchaseProcessor extends StatefulProcessor[Long, Ev, (Long, Long, Double)] {
    @transient private var st: ValueState[(Long, BigDecimal)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, BigDecimal)]("purchases",
        Encoders.product[(Long, BigDecimal)], TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[(Long, Long, Double)] = {
      val (n, total) = addPurchases(if (st.exists()) st.get() else NoPurchases, rows)
      st.update((n, total))
      Iterator.single((uid, n, total.toDouble))
    }
  }

  private val NoPurchases = (0L, BigDecimal(0))

  /** The running per-user purchase state `st` — (count, exact decimal
    * total) — advanced over `evs`. */
  private def addPurchases(st: (Long, BigDecimal), evs: Iterator[Ev]): (Long, BigDecimal) =
    evs.foldLeft(st) { case ((n, total), e) => (n + 1, total + BigDecimal(e.value.toString)) }

  /** `MapState` processor — the keyed-collection state variable of
    * the Spark-4 API: per user, a map of event_type → running count.
    * A composite per-key collection like this is exactly what
    * `mapGroupsWithState`'s single opaque value forces users to
    * re-serialize wholesale; `MapState` reads/writes only the touched
    * sub-keys (RocksDB point lookups). Emits the user's current
    * counts each batch. */
  class TypeCountsProcessor
      extends StatefulProcessor[Long, Ev, (Long, String, Long)] {
    @transient private var st: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getMapState[String, Long]("typeCounts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[(Long, String, Long)] = {
      rows.foreach { e =>
        val cur = if (st.containsKey(e.event_type)) st.getValue(e.event_type) else 0L
        st.updateValue(e.event_type, cur + 1)
      }
      // materialize: the state iterator must not outlive the handler
      st.iterator().map { case (k, v) => (uid, k, v) }.toList.iterator
    }
  }

  /** `ListState` processor — the append-log state variable: per user,
    * the last 3 purchase values as a bounded recent-history window
    * (append new rows, trim to the tail — RocksDB appends, no
    * full-value rewrite). Emits the current trailing mean after each
    * batch; the feed is (ts, event_id)-ordered, so "last 3" is
    * well-defined and batch-reproducible. */
  class RecentPurchasesProcessor
      extends StatefulProcessor[Long, Ev, (Long, Long, Long, Double)] {
    @transient private var st: ListState[Double] = _
    @transient private var total: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getListState[Double]("recent",
        Encoders.scalaDouble, TTLConfig.NONE)
      total = getHandle.getValueState[Long]("total",
        Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[(Long, Long, Long, Double)] = {
      val batch = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
      batch.foreach(e => st.appendValue(e.value))
      val n = (if (total.exists()) total.get() else 0L) + batch.length
      total.update(n)
      val all = st.get().toArray
      val tail = all.takeRight(3)
      if (all.length > 3) st.put(tail) // trim: bounded per-key state
      // exact decimal sum, then ONE double division — same expression
      // shape as the oracle's CAST(sum(decimal) AS DOUBLE) / count.
      // n_total is monotone and versions the updates: the final
      // (max-n_total) row per user is the end-of-stream state.
      val mean = tail.map(v => BigDecimal(v.toString)).sum.toDouble / tail.length
      Iterator.single((uid, n, tail.length.toLong, mean))
    }
  }

  /** Event-time TIMER processor (`transformWithState`, Spark 4's
    * timer surface): per user, count events and keep a session-close
    * timer 30 minutes past the latest event; when the WATERMARK
    * passes the timer, [[handleExpiredTimer]] fires, emits the closed
    * session (closed = true) and clears the state — bounded state by
    * construction, driven by event time, the semantics
    * `mapGroupsWithState` approximates with timeout conf. Exercised
    * by the TwsTimerSpec hand-built feed. */
  class SessionTimerProcessor
      extends StatefulProcessor[Long, Ev, (Long, Long, Boolean)] {
    @transient private var st: ValueState[(Long, Long)] = _ // (n, timerMs)
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("sess",
        Encoders.product[(Long, Long)], TTLConfig.NONE)
    override def handleInputRows(uid: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[(Long, Long, Boolean)] = {
      val (n0, prevTimer) = if (st.exists()) st.get() else (0L, -1L)
      var n = n0; var maxTs = Long.MinValue
      rows.foreach { e => n += 1; maxTs = math.max(maxTs, e.ts.getTime) }
      if (prevTimer >= 0) getHandle.deleteTimer(prevTimer)
      val timer = maxTs + 30L * 60 * 1000
      getHandle.registerTimer(timer)
      st.update((n, timer))
      Iterator.single((uid, n, false))
    }
    override def handleExpiredTimer(uid: Long, timerValues: TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[(Long, Long, Boolean)] = {
      val n = if (st.exists()) st.get()._1 else 0L
      st.clear()
      Iterator.single((uid, n, true))
    }
  }

  /** Watermark-flush sentinels: two far-future events fed after the
    * real data. The first advances the watermark past every real
    * window; the second seals the first's own windows, so ALL real
    * windows are emitted in a DATA batch (no reliance on the trailing
    * no-data-batch flush) and only the second sentinel's windows stay
    * unsealed in state. Keys filter sentinel windows out by window
    * start (< [[SentinelGuard]]). */
  private val Sentinel1 = Timestamp.valueOf("2099-01-01 00:00:00")
  private val Sentinel2 = Timestamp.valueOf("2099-02-01 00:00:00")
  val SentinelGuard = "2090-01-01"

  /** State-store telemetry of the LAST finished streaming query run
    * through [[runStream]]: total rows across its state operators at
    * the final progress. Harness/spec diagnostic only — the
    * bounded-state assertion for the append+watermark keys (state must
    * hold only the unsealed sentinel windows, not every window ever
    * opened). */
  @volatile var lastStateRowsTotal: Long = -1L

  /** Accurate state-row totals cost RocksDB a read-before-write per
    * update (`trackTotalNumberOfRows`). Only the bounded-state specs
    * consume them ([[lastStateRowsTotal]]), so tracking is off on the
    * bench path and the specs flip it on around their assertions —
    * the same diagnostics-are-opt-in shape as
    * `collectIvfDiagnostics`. */
  @volatile var trackStateRows: Boolean = false

  /** Chunking rule for the staged feed: each chunk is one
    * micro-batch, so the watermark advances per chunk and multi-batch
    * progression is preserved (floor of two chunks on small data).
    * Chunk size scales with the table (≥ 50k, ≥ rows/6): a
    * micro-batch costs a near-fixed ~8 RocksDB store commits
    * regardless of its row count, so a fixed 50k chunk made batch
    * COUNT — pure harness overhead — grow linearly with data
    * (measured at the 10× replica: 20 batches per key, stream group
    * 6.9× the sf0.1 wall). Batches carry more data at scale instead
    * of multiplying. */
  private def chunkSizeFor(n: Long): Long = math.max(
    math.min(50000L, math.max(1L, (n + 1) / 2)), (n + 5) / 6)

  /** STAGED FILE FEED: the ts-ordered replay is written ONCE PER
    * MACHINE as a directory of parquet files — one file per chunk,
    * modification times spaced so the file source's oldest-first
    * ordering IS the chunk order — keyed by the events table's content
    * fingerprint ([[graft.IndexStore.cachedDir]], atomic publish).
    * Every streaming key reads it through [[feedStream]]
    * (`maxFilesPerTrigger = 1` + `Trigger.AvailableNow`), so file k is
    * micro-batch k and the rows reach executors as a parallel parquet
    * scan — the production ingest shape (a lake directory).
    *
    * CUT RULE: chunks end on minute boundaries chosen from the exact
    * per-minute row counts ([[writeFeed]]), so the files depend only
    * on the events. Not a sampled range partitioning: Spark seeds that
    * sample with the RDD id, so the cut — and with it the unflushed
    * `stream_late_data` result — would follow how many RDDs the
    * staging JVM had made before.
    *
    * With `flush`, sentinel 1 rides WITH the last data chunk (one
    * fewer batch) and sentinel 2 is its own trailing file, so every
    * real window is sealed and emitted in a DATA batch. */
  private def stagedFeed(s: SparkSession, d: String, flush: Boolean): String = {
    val fp = graft.IndexStore.fingerprint(s"$d/events.parquet")
    val tag = if (flush) "flush" else "plain"
    // v4: cuts from per-minute counts; v3 chunkings must never be served
    graft.IndexStore.cachedDir(s"stream_feed_${tag}_v4_$fp")(writeFeed(s, d, flush, _))
  }

  /** Writes the [[stagedFeed]] files into `dir`. The chunk of a minute
    * is the share of rows ahead of it, `before · nChunks / n`, and a
    * chunk starts at each minute where that steps: exact, O(minutes)
    * on the driver, and an equal-ts run never straddles a micro-batch
    * boundary (the same-ts (view, click) pair that made
    * [[streamAsofEnrich]] chunk-size-dependent). */
  private[graft] def writeFeed(s: SparkSession, d: String, flush: Boolean, dir: String): Unit = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val perMinute = ev.groupBy(date_trunc("minute", col("ts")).as("m")).count()
      .orderBy("m").collect().map(r => (r.getTimestamp(0), r.getLong(1)))
    val n = perMinute.map(_._2).sum
    val nChunks = math.max(1L, (n + chunkSizeFor(n) - 1) / chunkSizeFor(n))
    val before = perMinute.scanLeft(0L)(_ + _._2)
    val cuts = perMinute.indices.drop(1)
      .filter(i => before(i) * nChunks / n > before(i - 1) * nChunks / n)
      .map(i => perMinute(i)._1)
    val withS1 =
      if (flush) ev.union(s.createDataset(
        Seq(Ev(-1L, Sentinel1, -1L, "__flush__", 0.0, ""))).toDF())
      else ev
    Files.createDirectories(Paths.get(dir))
    (0 to cuts.size).foreach { i =>
      val from = if (i == 0) lit(true) else col("ts") >= lit(cuts(i - 1))
      val until = if (i == cuts.size) lit(true) else col("ts") < lit(cuts(i))
      stageFeedFile(withS1.filter(from && until), dir, i)
    }
    if (flush) stageFeedFile(s.createDataset(
      Seq(Ev(-2L, Sentinel2, -1L, "__flush__", 0.0, ""))).toDF(), dir, cuts.size + 1)
    val nFiles = cuts.size + 1 + (if (flush) 1 else 0)
    // the multi-batch guarantee ("≥2 files, one micro-batch each"):
    // with near-constant ts every row lands in one minute, and a
    // flush = false feed would silently lose its mid-stream watermark
    // advance — fail loudly instead
    require(n < 2 || nFiles >= 2,
      s"stagedFeed(flush = $flush): degenerate chunking — $n rows landed in " +
        s"$nFiles file(s); ts range cannot support ≥2 micro-batches")
  }

  /** Writes `df` as the ONE (ts, event_id)-sorted file numbered `i` of
    * the feed in `dir`: one file is one micro-batch. Explicit 2 s
    * mtime spacing: FileStreamSource orders by modification time, and
    * same-millisecond writes would make the file order
    * nondeterministic. */
  private def stageFeedFile(df: DataFrame, dir: String, i: Int): Unit = {
    val stage = s"$dir/_stage$i"
    df.coalesce(1).sortWithinPartitions("ts", "event_id").write.parquet(stage)
    val l = Files.list(Paths.get(stage))
    val part = try l.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally l.close()
    val target = Paths.get(dir, f"feed_$i%03d.parquet")
    Files.move(part, target)
    Files.setLastModifiedTime(target,
      java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 2000L))
    graft.deleteTree(stage)
  }

  /** The feed directory a stream key replays, by its staging rule:
    * [[PlainFeed]], [[FlushFeed]] or [[LateFeed]]. */
  private type Feed = (SparkSession, String) => String
  private val PlainFeed: Feed = stagedFeed(_, _, flush = false)
  private val FlushFeed: Feed = stagedFeed(_, _, flush = true)

  /** The events of the feed directory `path` as a stream, one file per
    * micro-batch. */
  private def feedStream(s: SparkSession, path: String): DataFrame =
    s.readStream.schema(Encoders.product[Ev].schema)
      .option("maxFilesPerTrigger", "1").parquet(path)

  /** Replay events through `build`, return the materialized sink.
    * All queries run on the RocksDB state store provider — the
    * production backend (bounded executor heap; state spills to local
    * disk + changelog), pinned here so every stateful key exercises
    * it. Under [[FlushFeed]] the sentinels (above) seal all real
    * event-time windows for Append-mode emission.
    *
    * SINK CHOICE (r10, found by the 300× ladder rung): Append-mode
    * queries write a PARQUET FILE SINK and the result is read back
    * through its `_spark_metadata` log — never the memory sink. The
    * memory sink accumulates every emitted row ON THE DRIVER, and
    * Append output for keys like `stream_dedup` is proportional to
    * EVENT VOLUME: at the 300× replica (30 M events) the read-back of
    * the driver-held rows serialized an 88 MB ParallelCollection task,
    * OOM'd a 24 g heap, killed the scheduler endpoint and hung AQE.
    * The file sink is also the production shape — results land as an
    * exactly-once parquet table, distributed end to end. Update-mode
    * queries (the stateful quartet) keep the memory sink: file sinks
    * don't support Update, and their output is bounded by STATE
    * cardinality (users × batch count), not event volume — the same
    * bound their state story already guarantees.
    *
    * SINGLE-LIVE-HANDLE constraint (r10 ADVICE): the Append-mode sink
    * dir is keyed by (key, dataset) and deleted before each start, so
    * the DataFrame returned by an EARLIER runStream call for the same
    * pair is invalidated the moment the key reruns in this JVM — hold
    * at most one live read-back per
    * (key, dataset) and materialize it before rerunning the key.
    * Every current caller (Verify's immediate write, Bench's
    * immediate count, the specs' collect) does; a per-invocation dir
    * would lift the constraint but accumulates event-volume-sized
    * results per rerun until JVM exit (GBs × passes at the 300×
    * rung), which is the wrong trade for a bench harness. */
  private def runStream(s: SparkSession, d: String, mode: OutputMode,
      name: String, feed: Feed)(build: DataFrame => DataFrame): DataFrame = {
    val feedPath = feed(s, d)
    val sinkName = graft.uniqueName(name)
    // fewer state partitions: each stateful operator commits one state
    // store per shuffle partition per micro-batch; at this volume the
    // per-store checkpoint overhead dominates, so 8 beats 32 — and the
    // r12 A/B took it further: a stream-stream join holds FOUR store
    // instances per partition, so 8 partitions = 32 per-batch changelog
    // commits + loads; at 4 that halves and the family benched 67.6 →
    // 55.0 s (stream_join_semi warm 8.1 → 4.6 s), while
    // 2 went CPU-bound (5.8 s) — 4 is the measured knee. Pinned at
    // query start (state partitioning is fixed for the query's life);
    // previous values restored when the query ends. A production
    // deployment sizes this to state volume, not harness latency.
    val confs = Map(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      // commit a small changelog per batch instead of a full RocksDB
      // snapshot zip — the production durability mode for frequent
      // micro-batches (snapshots still happen, in the background
      // maintenance thread). Per-batch zips on the tmpfs checkpoint
      // were A/B'd (r13) on stream_join warm and were not faster.
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" ->
        trackStateRows.toString,
      // stream-stream joins at state format v3 (r13): the four join
      // state stores live as VIRTUAL COLUMN FAMILIES in ONE RocksDB
      // instance per partition instead of four instances — quartering
      // the per-batch instance-commit count the r12 partition-knee
      // A/B identified as the family's fixed cost. Measured
      // like-for-like (N=2 subset bench, sf0.1, v3 window dirtier):
      // the 5 join keys 22.1 -> 14.7 s total, every key improved
      // (stream_join 5.6 -> 2.4 s); rate_vs_baseline 1.09 -> 0.73.
      // Safe to pin: checkpoints here are per-run throwaway, so no
      // cross-version checkpoint compat surface exists.
      // Partition knee RE-MEASURED under v3 (don't retry): the r12
      // 8→4 win was instance-commit-count driven, so v3's single
      // instance could have moved the knee — it didn't: join family
      // N=2 totals 13.2 s (4 parts) vs 15.4 s (2, CPU-bound) vs
      // 19.0 s (8, per-store floor) — 4 stays optimal.
      "spark.sql.streaming.join.stateFormatVersion" -> "3",
      // every batch here is ~0.4 s of task-scheduling + state-store
      // floor, and watermark advancement after each data batch was
      // spawning a no-data batch right behind it (6 batches per key
      // for a 3-file feed — measured from the progress events). The sentinel
      // feed seals every real window inside DATA batches, so the
      // no-data batches contribute nothing to the sink and eviction
      // just moves to the next data batch: halve the batch count
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"
    )
    val append = mode == OutputMode.Append()
    // file-sink output path: keyed by (key, dataset) and cleared
    // before start, so repeated runs in one JVM can't accumulate
    // stale batches. NOT the RAM disk — at 300× an
    // event-volume-proportional result is GBs, which on tmpfs is RAM.
    // The dir must OUTLIVE this call (the returned DataFrame reads it
    // lazily); it goes with the JVM's run directory.
    val outPath = Tables.sinkPath(s, d, s"sink_$name")
    val (q, outSchema) = GraftSession.withConfs(s, confs)(drained(name) { drain =>
      val streamed = build(feedStream(s, feedPath))
      val w = streamed.writeStream.outputMode(mode)
      // AvailableNow drains the staged files, one batch per file, and
      // stops itself
      val q = if (append) {
        graft.deleteTree(outPath)
        drain(w.format("parquet").option("path", outPath))
      } else drain(w.format("memory").queryName(sinkName))
      (q, streamed.schema)
    })
    lastStateRowsTotal = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)
    // explicit schema: a key whose every batch emitted zero rows has a
    // _spark_metadata log but no part files — schema inference would
    // throw where "empty result" is the correct answer
    if (append) s.read.schema(outSchema).parquet(outPath)
    else s.table(sinkName)
  }

  /** The one query lifecycle of the stream keys. `run` gets `drain`,
    * which starts a writer (sink and output mode set) under
    * `Trigger.AvailableNow` from a checkpoint in this JVM's
    * [[graft.fastRunDir]], waits until its input is drained and stops
    * it. All `drain` calls of one `run` share the checkpoint, so a
    * second call resumes the first; the checkpoint is deleted when
    * `run` returns — tmpfs is a shared finite resource. A bench
    * checkpoint is throwaway by construction, so RAM-disk durability
    * is right HERE; production keeps it on durable storage and pays
    * the fsync as the price of exactly-once. */
  private def drained[A](tag: String)(
      run: (DataStreamWriter[_] => StreamingQuery) => A): A = {
    val ckpt = graft.checkpointPath(tag)
    try run { w =>
      val q = w.option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
      q
    } finally graft.deleteTree(ckpt)
  }

  /** Hourly windows × event_type under the 1-hour watermark. */
  private def hourlyByType(df: DataFrame): RelationalGroupedDataset =
    df.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))

  /** The real windows of a flushed windowed aggregate's sink:
    * `window.start` as `w_start`, then `by` and `vals`; the sentinel
    * windows dropped; ordered by `w_start` and `by`. */
  private def sealedWindows(out: DataFrame, by: String*)(vals: String*): DataFrame =
    out.select(col("window.start").as("w_start") +: (by ++ vals).map(col): _*)
      .filter(col("w_start") < SentinelGuard)
      .orderBy("w_start", by: _*)

  /** 1-hour tumbling windows × event_type — watermark + APPEND, the
    * production shape: a window's state row is emitted once when the
    * watermark seals it and then EVICTED, so state holds only open
    * windows (bounded by the watermark horizon), not every window
    * ever seen, and the sink is written once per window instead of
    * re-emitting the whole result table each micro-batch. The
    * sentinel feed seals the trailing windows so the batch-equivalence
    * oracle still sees the complete result. */
  val streamTumbling: QFn = (s, d) => sealedWindows(
    runStream(s, d, OutputMode.Append(), "tumbling", FlushFeed)(
      df => Etl.totals(hourlyByType(df))), "event_type")("n", "sum_value")

  /** STREAMING quote summary — the namesake `ts_bidask_spread` shape
    * run the way a production tick pipeline actually runs it: quotes
    * arrive as a stream, both sides aggregate in ONE watermarked
    * tumbling window (the batch key's conditional cents sums,
    * [[TimeSeries.quoteSides]] — no second stateful operator for the
    * second side), and the derived spread/mid/bps columns are the
    * batch key's stateless post-window arithmetic,
    * [[TimeSeries.quoteSpread]]. Flushed result equals the batch key
    * exactly, so the ORACLE IS
    * `ts_bidask_spread`'s (1-hour tumbling windows coincide with
    * `date_trunc('hour')`). Sentinel flush rows carry event_type
    * `__flush__`, so both conditional sides ignore them by
    * construction and their window falls beyond the guard. */
  val streamBidaskSpread: QFn = (s, d) =>
    TimeSeries.quoteSpread(
      runStream(s, d, OutputMode.Append(), "bidask", FlushFeed) { df =>
        TimeSeries.quoteSides(
          df.withWatermark("ts", "1 hour").groupBy(window(col("ts"), "1 hour")))
      }.withColumn("bar", col("window.start"))
        .filter(col("bar") < SentinelGuard))

  /** STREAMING TEMPORAL JOIN (as-of enrichment) — the Flink
    * "temporal table join" shape Structured Streaming has no built-in
    * operator for: every trade ('click') is enriched with the
    * PREVAILING quote ('view') for its key, from per-key
    * `flatMapGroupsWithState` state holding the latest quote
    * (ts, value). Inside each micro-batch the group iterates in
    * event-time order with quotes ahead of trades at equal
    * timestamps, and an equal-ts quote replaces state only with a
    * larger value — exactly the batch semantics (quotes deduplicated
    * per (key, ts) to max value, backward match with `<=`), so the
    * flushed result equals the NATIVE as-of join bit-for-bit and the
    * oracle is the same correlated-subquery SQL. Relies on the
    * harness feed's global event-time order across micro-batches —
    * [[stagedFeed]] cuts only on minute boundaries, so an equal-ts run
    * (e.g. a same-ts view+click pair for one user) can never straddle
    * a micro-batch boundary (the r8 ADVICE race) — the production
    * deployment of this pattern delays emission by a watermark
    * instead, which is the documented trade (`stream_late_data`
    * covers the disorder story). State is O(1) per key: ONE quote,
    * not a buffer. */
  val streamAsofEnrich: QFn = (s, d) => {
    runStream(s, d, OutputMode.Append(), "asof_enrich", PlainFeed) { df =>
      import df.sparkSession.implicits._
      df.filter(col("event_type").isin("view", "click")).as[Ev]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(OutputMode.Append(),
            GroupStateTimeout.NoTimeout()) {
          (uid: Long, evs: Iterator[Ev], state: GroupState[(Long, Double)]) =>
            var st = state.getOption
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(Long, Long, Timestamp, Option[Double])]
            evs.toSeq.sortBy(e =>
              (e.ts.getTime, if (e.event_type == "view") 0 else 1, e.event_id))
              .foreach { e =>
                if (e.event_type == "view") {
                  val t = e.ts.getTime
                  st = st match {
                    case Some((pt, pv)) if pt > t || (pt == t && pv >= e.value) => st
                    case _ => Some((t, e.value))
                  }
                } else out += ((e.event_id, uid, e.ts, st.map(_._2)))
              }
            st.foreach(state.update)
            out.iterator
        }.toDF("event_id", "user_id", "ts", "mid")
    }.orderBy("event_id")
  }

  /** Tick row for the streaming CEP state function: price already in
    * exact integer cents (cast in Spark SQL, not JVM code). */
  case class CepTick(event_id: Long, ts: Timestamp, user_id: Long, vc: Long)

  /** The CEP stream transformation, factored from [[streamCepPattern]]
    * so StreamRecoverySpec can drive the same state machine through a
    * kill-resume checkpoint cycle. */
  def cepStream(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.filter(col("event_type") === "click")
      .select(col("event_id"), col("ts"), col("user_id"),
        cents(col("value")).as("vc"))
      .as[CepTick]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
          GroupStateTimeout.NoTimeout()) {
        (uid: Long, ticks: Iterator[CepTick],
         state: GroupState[(Int, Long, Long, Long)]) =>
          // (n seen, last, second-last, third-last)
          var (n, v1, v2, v3) = state.getOption.getOrElse((0, 0L, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Timestamp, Long, Long)]
          ticks.toSeq
            .sortBy(t => (t.ts.getTime, t.ts.getNanos, t.event_id))
            .foreach { t =>
              if (n >= 3 && v3 > v2 && v2 > v1 && t.vc > v1)
                out += ((t.event_id, uid, t.ts, t.vc - v1, v3 - v1))
              v3 = v2; v2 = v1; v1 = t.vc; n = math.min(n + 1, 3)
            }
          state.update((n, v1, v2, v3))
          out.iterator
      }.toDF("event_id", "user_id", "ts", "rebound_cents", "depth_cents")
  }

  /** STREAMING CEP — the Flink-CEP headline capability as a
    * Structured Streaming stateful operator: `ts_cep_pattern`'s
    * V-reversal (three strictly-falling ticks then an up-tick off
    * the trough) detected ONLINE over the click stream, one output
    * row per match as it happens. Per-user `flatMapGroupsWithState`
    * holds the pattern's bounded lookback — the last three tick
    * prices in cents — which IS the compiled state of a
    * bounded-length CEP pattern: O(1) per key, no buffering, no
    * re-scan, so state volume is #users regardless of tick volume.
    * Cents come from the same DECIMAL(30,2)·100 cast as the batch
    * key, computed in Spark SQL BEFORE the state function so no JVM
    * double-rounding can diverge. Within a micro-batch the group
    * iterates in full-resolution event-time order (ms + nanos,
    * event_id tiebreak — the batch window's (ts, event_id) total
    * order); across batches [[stagedFeed]]'s minute-boundary cuts
    * keep global order and never split an equal-ts run, so the
    * flushed match set equals the batch lag-window formulation row
    * for row — and the oracle IS that independent formulation. */
  val streamCepPattern: QFn = (s, d) =>
    runStream(s, d, OutputMode.Append(), "cep_pattern", PlainFeed)(cepStream)
      .orderBy("event_id")

  /** STREAM–STATIC dimension join — the enrichment shape Structured
    * Streaming treats specially: the static side is a plain batch
    * DataFrame (here a per-user activity profile aggregated once from
    * the events table — "the serving-side dim snapshot"), joined into
    * every micro-batch STATELESSLY (no watermark bookkeeping, no join
    * state store — unlike the stream-stream family) and broadcast so
    * the streaming side never shuffles for the join. The watermark is
    * applied BEFORE the join so the flush sentinels (whose user_id
    * joins nothing) still advance event time and seal every real
    * window. Flushed result equals the batch join + hour aggregate
    * exactly — the oracle. At 100 TB the static side is the small
    * dimension by construction (a profile table), which is what makes
    * per-batch broadcast the right physical plan. */
  val streamStaticJoin: QFn = (s, d) => {
    val profile = Tables.events(s, d)
      .groupBy("user_id").agg(count(lit(1)).as("user_events"))
      .select(col("user_id"), expr("user_events div 20").as("band"))
    sealedWindows(runStream(s, d, OutputMode.Append(), "static_join", FlushFeed) { df =>
      Etl.totals(df.withWatermark("ts", "1 hour")
        .join(broadcast(profile), "user_id")
        .groupBy(window(col("ts"), "1 hour"), col("band")))
    }, "band")("n", "sum_value")
  }

  /** CHAINED time-window aggregations — two stateful operators in ONE
    * streaming query (a Spark-4 capability: `window(window_col, ...)`
    * re-windows the struct output of an upstream windowed agg):
    * 15-minute partials roll up into 1-hour finals, both under the
    * same watermark in Append mode. This is the production pre-agg
    * cascade (fine-grain state for freshness, coarse-grain emission
    * for the serving table) without a foreachBatch seam; each
    * operator's state stays bounded by the watermark horizon. The
    * 15-minute sums are exact decimal-summed 2-decimal values, so the
    * hour-level re-sum is exact too and the final table equals the
    * direct batch hour aggregate — the oracle. */
  val streamChainedAgg: QFn = (s, d) => sealedWindows(
    runStream(s, d, OutputMode.Append(), "chain", FlushFeed) { df =>
      val quarter = df.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("qn"), dsum2(col("value")).as("qsum"))
      quarter
        .groupBy(window(col("window"), "1 hour"), col("event_type"))
        .agg(sum("qn").as("n"),
          sum(col("qsum").cast(DecimalType(30, 2))).cast("double").as("sum_value"))
    }, "event_type")("n", "sum_value")

  /** 1-hour windows sliding every 15 minutes — watermark + APPEND
    * (same bounded-state shape as [[streamTumbling]]; the 4× window
    * fan-out makes unbounded Complete-mode state the canonical
    * streaming scale-killer, so eviction matters most here). */
  val streamSliding: QFn = (s, d) => sealedWindows(
    runStream(s, d, OutputMode.Append(), "sliding", FlushFeed) { df =>
      Etl.totals(df.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour", "15 minutes")))
    })("n", "sum_value")

  /** Per-user session windows, 30-minute gap — watermark + APPEND:
    * a session is emitted exactly once, when the watermark passes its
    * close, and its state is evicted; only sessions still open within
    * the watermark horizon occupy the store. */
  val streamSession: QFn = (s, d) =>
    runStream(s, d, OutputMode.Append(), "session", FlushFeed) { df =>
      Etl.totals(df.withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id")))
    }.select(col("session_window.start").as("sess_start"), col("user_id"),
      col("n"), col("sum_value"))
      .filter(col("sess_start") < SentinelGuard)
      .orderBy("user_id", "sess_start")

  /** Append mode + 1-hour watermark: only windows sealed by the final
    * watermark are emitted. The late-row *drop* path is exercised in
    * the spec with a hand-built out-of-order feed; here the contract
    * is "append emits exactly the closed windows". */
  val streamLateData: QFn = (s, d) =>
    runStream(s, d, OutputMode.Append(), "late", PlainFeed)(
      hourlyByType(_).agg(count(lit(1)).as("n"))
    ).select(col("window.start").as("w_start"), col("event_type"), col("n"))
      .orderBy("w_start", "event_type")

  /** DISORDERED feed for the oracled late-data key: five files, five
    * micro-batches.
    *   file0 — the "on-time" cohort (ts < S, S = day-truncated min ts
    *           + 15 days) PLUS every max-ts row (the fast arrival that
    *           races the watermark forward to M − 1h),
    *   file1 — a one-row eviction TICK (ts = M, marker event_type):
    *           end-of-batch eviction must run once against the M − 1h
    *           watermark BEFORE the late rows arrive, or they merge
    *           into still-live state and are never counted late,
    *   file2 — the LATE cohort (ts ∈ [S, M)), delivered after the
    *           watermark has already passed most of it,
    *   file3/4 — the usual two flush sentinels.
    * Each cohort is ONE file (one micro-batch): if file0 split, a
    * sub-batch after the max-ts row would itself be late-filtered and
    * the drop set would depend on chunking instead of the advertised
    * contract. */
  private val LateFeed: Feed = (s, d) => {
    val fp = graft.IndexStore.fingerprint(s"$d/events.parquet")
    graft.IndexStore.cachedDir(s"stream_feed_late_v1_$fp") { tmp =>
      import s.implicits._
      val ev = Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      val b = ev.agg(
        (date_trunc("day", min(col("ts"))) + expr("INTERVAL 15 DAYS")).as("s"),
        max(col("ts")).as("m")).head()
      val sCut = b.getTimestamp(0); val mTs = b.getTimestamp(1)
      Files.createDirectories(Paths.get(tmp))
      stageFeedFile(ev.filter(col("ts") < lit(sCut) || col("ts") === lit(mTs)), tmp, 0)
      // a one-row "tick" batch between the fast arrival and the late
      // cohort: state eviction runs at END-of-batch against that
      // batch's operative watermark (M − 1h, set by batch 0's fast
      // arrival), so without this batch the late rows would merge
      // into still-live state and nothing would ever be late
      // (measured in r9: zero numRowsDroppedByWatermark on a 2-batch
      // feed). The tick's ts = M leaves the watermark where it is;
      // its marker event_type is filtered from the result.
      stageFeedFile(s.createDataset(
        Seq(Ev(-3L, mTs, -1L, "__tick__", 0.0, ""))).toDF(), tmp, 1)
      stageFeedFile(ev.filter(col("ts") >= lit(sCut) && col("ts") < lit(mTs)), tmp, 2)
      stageFeedFile(s.createDataset(
        Seq(Ev(-1L, Sentinel1, -1L, "__flush__", 0.0, ""))).toDF(), tmp, 3)
      stageFeedFile(s.createDataset(
        Seq(Ev(-2L, Sentinel2, -1L, "__flush__", 0.0, ""))).toDF(), tmp, 4)
    }
  }

  /** LATE DATA with a batch-formulated ORACLE (r8 verdict item 5):
    * the disordered [[LateFeed]] makes the watermark race ahead of a
    * 15-day cohort, so the hourly aggregate's final flushed state
    * must equal the batch aggregate over exactly the rows Spark's
    * late-row filter admits: the on-time cohort, the fast arrival,
    * and the late rows whose window the watermark (M − 1h) had not
    * yet sealed. That drop rule is pure SQL over (S, M), which is
    * what makes an end-state oracle possible where the unflushed
    * `stream_late_data` key (emission timing, not end state) stays
    * contract-exempt. */
  val streamLateDataFinal: QFn = (s, d) => sealedWindows(
    runStream(s, d, OutputMode.Append(), "late_final", LateFeed)(
      hourlyByType(_).agg(count(lit(1)).as("n"))), "event_type")("n")
      .filter(col("event_type") =!= "__tick__")

  /** Exactly-once dedup on event_id with BOUNDED state: the feed
    * duplicates every event (union with itself), and
    * `dropDuplicatesWithinWatermark` restores uniqueness while letting
    * the state store evict ids once the 1-hour watermark passes them —
    * a plain `dropDuplicates` keeps every id ever seen, which on a real
    * stream grows without bound. Duplicates here arrive in the same
    * micro-batch, so they are always within the horizon. The unique
    * stream lands in the sink (append — dedup emits on first sight);
    * the aggregate over it is batch-side, keeping one stateful operator
    * per query. The spec additionally drives the eviction/late-drop
    * path with a hand-built feed. */
  val streamDedup: QFn = (s, d) =>
    Etl.eventTypeTotals(runStream(s, d, OutputMode.Append(), "dedup", PlainFeed) { df =>
      df.union(df)
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
    })

  /** Custom state: per-user running purchase count + total via
    * mapGroupsWithState (update mode). The sink accumulates one row
    * per state update; the final state per user is the row with the
    * highest event count — compared against the batch aggregate. */
  val streamStateful: QFn = (s, d) => finalState(
    runStream(s, d, OutputMode.Update(), "stateful", PlainFeed) { df =>
      import df.sparkSession.implicits._
      df.filter(col("event_type") === "purchase").as[Ev]
        .groupByKey(_.user_id)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
          (uid: Long, evs: Iterator[Ev], state: GroupState[(Long, BigDecimal)]) =>
            val (n, total) = addPurchases(state.getOption.getOrElse(NoPurchases), evs)
            state.update((n, total))
            (uid, n, total.toDouble)
        }.toDF("user_id", "n_purchases", "total_value")
    }, "n_purchases", "user_id")

  /** The end-of-stream state of an Update-mode sink: per `keys`, the
    * update with the largest `version` (a per-key count that grows
    * with every update), ordered by `keys`. */
  private def finalState(updates: DataFrame, version: String, keys: String*): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(version).desc)
    updates.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(updates.columns.map(col): _*)
      .orderBy(keys.map(col): _*)
  }

  /** The Spark-4 stateful surface: the same per-user running purchase
    * aggregate as [[streamStateful]], expressed as a
    * `StatefulProcessor` run through `transformWithState` (update
    * mode, no timers). State lives in a named `ValueState` — the new
    * API's composable state-variable model (vs. mapGroupsWithState's
    * single opaque value), with TTL available for bounded retention.
    * Requires the RocksDB state store provider — which [[runStream]]
    * pins for every streaming key. */
  val streamStatefulTws: QFn = (s, d) => finalState(
    runStream(s, d, OutputMode.Update(), "stateful_tws", PlainFeed) { df =>
      import df.sparkSession.implicits._
      df.filter(col("event_type") === "purchase").as[Ev]
        .groupByKey(_.user_id)
        .transformWithState[(Long, Long, Double)](new PurchaseProcessor(),
          TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "n_purchases", "total_value")
    }, "n_purchases", "user_id")

  /** [[TypeCountsProcessor]] through `transformWithState` — per-user
    * event-type counts in a `MapState`. Final state (max count per
    * (user, type) across the update stream) equals the batch
    * group-count, which is the DuckDB oracle. */
  val streamStatefulMap: QFn = (s, d) => finalState(
    runStream(s, d, OutputMode.Update(), "stateful_map", PlainFeed) { df =>
      import df.sparkSession.implicits._
      df.as[Ev]
        .groupByKey(_.user_id)
        .transformWithState[(Long, String, Long)](new TypeCountsProcessor(),
          TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "event_type", "n")
    }, "n", "user_id", "event_type")

  /** [[RecentPurchasesProcessor]] through `transformWithState` —
    * trailing-3 purchase mean per user in a `ListState`. Final
    * update per user equals the batch last-3 aggregate (the feed is
    * time-ordered), which is the DuckDB oracle. */
  val streamStatefulList: QFn = (s, d) => finalState(
    runStream(s, d, OutputMode.Update(), "stateful_list", PlainFeed) { df =>
      import df.sparkSession.implicits._
      df.filter(col("event_type") === "purchase").as[Ev]
        .groupByKey(_.user_id)
        .transformWithState[(Long, Long, Long, Double)](
          new RecentPurchasesProcessor(), TimeMode.None(), OutputMode.Update())
        .toDF("user_id", "n_total", "n_recent", "recent_mean")
    }, "n_total", "user_id")

  /** The stream joins' condition: a click by the purchase's user in
    * the hour up to the purchase. */
  private val clickInHourBefore =
    col("p_user") === col("c_user") &&
      col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
      col("c_ts") <= col("p_ts")

  /** Purchases `joinType`-joined to clicks under the flush feed: each
    * side keeps the `__flush__` sentinels and is watermarked BEFORE
    * its projection, so the sentinels seal both sides' state. */
  private def flushedJoin(df: DataFrame, joinType: String): DataFrame = {
    val clicks = df.filter(col("event_type").isin("click", "__flush__"))
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    val purchases = df.filter(col("event_type").isin("purchase", "__flush__"))
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value"))
    purchases.join(clicks, clickInHourBefore, joinType)
  }

  /** A pair join's result: (purchase, click, `user`), ordered. */
  private def joinPairs(out: DataFrame, user: Column): DataFrame =
    out.select(col("purchase_id"), col("click_id"), user.as("user_id"))
      .orderBy("purchase_id", "click_id")

  /** The flushed [[flushedJoin]] key `name`: its pairs, minus the
    * sentinel pair, whose `user` is −1. */
  private def flushedPairs(s: SparkSession, d: String, name: String,
      joinType: String, user: Column): DataFrame =
    joinPairs(runStream(s, d, OutputMode.Append(), name, FlushFeed)(
      flushedJoin(_, joinType)).filter(user =!= -1), user)

  /** Stream-stream inner join: each purchase joined to the same
    * user's clicks in the preceding hour. Both sides are watermarked
    * so the state store can evict; append mode. The oracle is the
    * identical batch interval join. */
  val streamJoin: QFn = (s, d) => joinPairs(
    runStream(s, d, OutputMode.Append(), "sjoin", PlainFeed) { df =>
      val clicks = df.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("event_id").as("click_id"))
        .withWatermark("c_ts", "1 hour")
      val purchases = df.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("purchase_id"), col("value"))
        .withWatermark("p_ts", "1 hour")
      purchases.join(clicks, clickInHourBefore)
    }, col("p_user"))

  /** LEFT OUTER stream-stream join — the semantics inner joins can't
    * show: an unmatched purchase may only emit (with a null click)
    * once the watermark proves no matching click can still arrive, so
    * null rows surface on WATERMARK ADVANCEMENT, not on data arrival.
    * The flush feed makes this fully oracle-able: the sentinels push
    * both sides' watermarks past every real timestamp, sealing and
    * emitting ALL outer state, so the result equals the batch left
    * join exactly — no tail-horizon carve-out needed. Watermarks are
    * applied BEFORE the type filters (sentinels carry their own
    * event_type, and a filtered-first stream would never see them);
    * sentinel rows ride user_id −1 and drop out at the end. */
  val streamJoinOuter: QFn =
    flushedPairs(_, _, "sjoino", "left_outer", col("p_user"))

  /** FULL OUTER stream-stream join — null rows can surface on EITHER
    * side: an unmatched purchase emits (null click) and an unmatched
    * click emits (null purchase), each only once the watermark proves
    * no partner can still arrive. Same sentinel-seal contract as
    * [[streamJoinOuter]]: the flush feed pushes both watermarks past
    * every real timestamp, so state for BOTH sides is sealed and the
    * result equals the batch FULL join exactly. Sentinel rows ride
    * user_id −1 on whichever side is present (a sentinel can only
    * match the other sentinel — real user_ids are positive — so
    * `coalesce` over the two user columns identifies them even when
    * one side is null). */
  val streamJoinFullOuter: QFn =
    flushedPairs(_, _, "sjoinfo", "full_outer", coalesce(col("p_user"), col("c_user")))

  /** RIGHT OUTER stream-stream join — the mirror of
    * [[streamJoinOuter]]: every click emits, with a null purchase if
    * the watermark proves none arrived in [c_ts, c_ts + 1h]. The
    * click side is never null in the output, so sentinel filtering
    * needs only `c_user` (a sentinel purchase can match only the
    * sentinel click). Equals the batch RIGHT join under the flush
    * feed. */
  val streamJoinRightOuter: QFn =
    flushedPairs(_, _, "sjoinro", "right_outer", col("c_user"))

  /** LEFT SEMI stream-stream join — existence filtering on a stream:
    * each purchase emits AT MOST ONCE, iff some click by the same
    * user landed in the preceding hour; the click payload never
    * reaches the output (the semi-join contract, which also means
    * click-side state can drop payload columns). Emission happens
    * when the first match arrives OR when the watermark proves the
    * row can still match nothing — either way each purchase appears
    * once, so under the flush feed the result equals the batch
    * EXISTS filter exactly. Sentinels ride user_id −1 as usual. Column
    * pruning drops [[flushedJoin]]'s unused `click_id`, so the click
    * state holds only (c_user, c_ts). */
  val streamJoinSemi: QFn = (s, d) =>
    runStream(s, d, OutputMode.Append(), "sjoinsemi", FlushFeed)(
      flushedJoin(_, "left_semi"))
      .filter(col("p_user") =!= -1)
      .select(col("purchase_id"), col("p_user").as("user_id"))
      .orderBy("purchase_id")

  /** FILE-SOURCE stream over a lake directory the key writes itself
    * (a plain `events` copy, not the staged ts-chunked feed the other
    * keys replay): `readStream` discovers and processes its files with
    * `Trigger.AvailableNow` (process-everything-then-stop, the batch
    * backfill trigger), aggregating per type. A FRESH checkpoint per
    * run makes the run deterministic (a reused checkpoint would mark
    * the staged files already-processed and emit nothing); at scale
    * the checkpoint is durable state and `maxFilesPerTrigger` paces
    * ingestion. */
  val streamFileSource: QFn = (s, d) => {
    // staged parquet stays on real disk (it plays the lake directory)
    val src = Tables.sinkPath(s, d, "stream_src")
    val batch = Tables.events(s, d)
    batch.write.mode("overwrite").parquet(src)
    val sinkName = drained("fsrc")(
      typeTotalsInto(_, s.readStream.schema(batch.schema).parquet(src), "fsrc"))
    s.table(sinkName).orderBy("event_type")
  }

  /** Drains `src`'s per-type [[Etl.totals]] as a Complete-mode query
    * into a fresh memory table named after `tag`; returns its name. */
  private def typeTotalsInto(drain: DataStreamWriter[_] => StreamingQuery,
      src: DataFrame, tag: String): String = {
    val table = graft.uniqueName(tag)
    drain(Etl.totals(src.groupBy("event_type"))
      .writeStream.format("memory").queryName(table)
      .outputMode(OutputMode.Complete()))
    table
  }

  /** Incremental ingest with checkpoint RESUME — the property the
    * fresh-checkpoint [[streamFileSource]] key deliberately sidesteps:
    * run 1 processes the first half of the staged files; more files
    * land; run 2 starts from the SAME checkpoint, reads ONLY the new
    * files (the checkpoint's file log marks the rest processed), and
    * merges them into the persisted aggregation state. The final
    * table equals the full-data batch aggregate — the exactly-once
    * incremental contract that makes a 100 TB daily ingest touch only
    * the day's files, ever. */
  val streamIncrementalResume: QFn = (s, d) => {
    val src = Tables.sinkPath(s, d, "incr_src")
    graft.deleteTree(src)
    val e = Tables.events(s, d)
    val split = to_date(col("ts")) < "2024-01-15"
    // the resume contract is checkpoint-relative, not medium-relative:
    // run 2 resumes from run 1's checkpoint, deleted after run 2
    val sinkName = drained("incr") { drain =>
      def run(): String = typeTotalsInto(drain, s.readStream.schema(e.schema).parquet(src), "incr")
      e.filter(split).write.mode("overwrite").parquet(src)
      run()                                              // half 1 only
      e.filter(!split).write.mode("append").parquet(src) // day's new files land
      run()                                              // resumes: new files + saved state
    }
    s.table(sinkName).orderBy("event_type")
  }

  /** `foreachBatch` sink — the serving-table pattern: each micro-batch
    * of a complete-mode aggregate is written to a parquet table the
    * downstream reader queries (overwrite per batch = last batch wins
    * = batch-equivalent, which is what makes it oracle-able). In
    * production the lambda would MERGE into a lakehouse table or push
    * to an external store — foreachBatch is the one sink that hands
    * the user a full batch DataFrame + epoch id for exactly-once
    * bookkeeping. */
  val streamForeachBatch: QFn = (s, d) => {
    val out = Tables.sinkPath(s, d, "fb_sink")
    drained("fb") { drain =>
      drain(Etl.totals(feedStream(s, PlainFeed(s, d))
        .groupBy((col("user_id") % 10).as("cohort")))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.write.mode("overwrite").parquet(out)
        }
        .outputMode(OutputMode.Complete()))
    }
    s.read.parquet(out).orderBy("cohort")
  }

  /** Streaming commit log into the manifest snapshot table
    * ([[graft.operators.SnapshotTable]]) — the lakehouse streaming
    * sink: every micro-batch appends one immutable unit and
    * ATOMICALLY commits a new manifest version (epoch = version), so
    * concurrent readers get snapshot isolation while the stream runs
    * and time travel across epochs after it. foreachBatch's
    * (batch, epoch) pair is the exactly-once bookkeeping handle: a
    * retried epoch overwrites its own unit and re-commits an
    * identical manifest instead of double-appending, and a crash
    * between unit write and manifest rename leaves readers at the
    * previous version. The key returns the per-type aggregate of the
    * LATEST snapshot read back through the manifest chain —
    * batch-equivalent to aggregating the events table directly (the
    * oracle); StreamingSpec asserts the commit history (one version
    * per batch, one unit added per version, monotone row counts). */
  val streamSnapshotSink: QFn = (s, d) => {
    import graft.operators.SnapshotTable
    val root = Tables.sinkPath(s, d, "snapsink")
    val feed = PlainFeed(s, d)
    // fresh table per run: the run IS the commit history under test
    graft.deleteTree(root)
    drained("snap") { drain =>
      drain(feedStream(s, feed)
        .writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           epoch: Long) =>
            SnapshotTable.commitAppend(batch.toDF(), root, epoch)
        }
        .outputMode(OutputMode.Append()))
    }
    Etl.eventTypeTotals(
      SnapshotTable.readSnapshot(s, root, SnapshotTable.latestVersion(root)))
  }

  /** The three feed directories every stream key reads: their keys
    * stage them, so Bench warms them before any stream key runs. */
  private val StreamFeeds =
    Seq("stream_tumbling", "stream_foreach_batch", "stream_late_data_final")

  /** Oracle of `stream_tumbling` and `stream_chained_agg`. */
  private val hourlyTotalsSql: String =
    s"""SELECT CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS w_start,
           event_type, count(*) AS n,
           ${sqlSum2("value")} AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Oracle of `stream_stateful` and `stream_stateful_tws`. */
  private val purchaseTotalsSql: String =
    s"""SELECT user_id, count(*) AS n_purchases,
           ${sqlSum2("value")} AS total_value
         FROM events WHERE event_type = 'purchase'
         GROUP BY user_id ORDER BY user_id"""

  /** Oracle of the flushed pair joins: the batch `joinType` JOIN of
    * purchases to the same user's clicks in the hour up to the
    * purchase, `user` as `user_id`. */
  private def pairJoinSql(joinType: String, user: String): String =
    s"""WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'purchase'),
         c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'click')
         SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           $user AS user_id
         FROM p $joinType JOIN c
           ON c.user_id = p.user_id
          AND c.ts >= p.ts - INTERVAL 1 HOUR
          AND c.ts <= p.ts
         ORDER BY purchase_id, click_id"""

  val specs: Seq[KeySpec] = Seq(
    KeySpec.stream("stream_snapshot_sink", streamSnapshotSink,
      // the latest committed snapshot holds exactly the replayed events,
      // so its aggregate equals the batch aggregate over the table
      graft.operators.Etl.eventTypeTotalsSql),
    KeySpec.stream("stream_join", streamJoin,
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
         FROM events p JOIN events c
           ON p.event_type = 'purchase' AND c.event_type = 'click'
          AND c.user_id = p.user_id
          AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
          AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
         ORDER BY purchase_id, click_id"""),
    KeySpec.stream("stream_join_outer", streamJoinOuter,
      // the flushed outer join equals the batch LEFT join exactly —
      // the sentinels sealed every pending right-side window
      pairJoinSql("LEFT", "p.user_id")),
    KeySpec.stream("stream_join_full_outer", streamJoinFullOuter,
      // full outer under the flush feed = batch FULL join; the nullable
      // long ids come back as pandas float on BOTH sides of the compare
      pairJoinSql("FULL", "COALESCE(p.user_id, c.user_id)")),
    KeySpec.stream("stream_join_right_outer", streamJoinRightOuter,
      pairJoinSql("RIGHT", "c.user_id")),
    KeySpec.stream("stream_join_semi", streamJoinSemi,
      """SELECT p.event_id AS purchase_id, p.user_id AS user_id
         FROM events p
         WHERE p.event_type = 'purchase' AND EXISTS (
           SELECT 1 FROM events c
           WHERE c.event_type = 'click' AND c.user_id = p.user_id
             AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
             AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP))
         ORDER BY purchase_id"""),
    KeySpec.stream("stream_file_source", streamFileSource,
      graft.operators.Etl.eventTypeTotalsSql),
    KeySpec.stream("stream_incremental_resume", streamIncrementalResume,
      graft.operators.Etl.eventTypeTotalsSql),
    KeySpec.stream("stream_foreach_batch", streamForeachBatch,
      s"""SELECT user_id % 10 AS cohort, count(*) AS n,
           ${sqlSum2("value")} AS sum_value
         FROM events GROUP BY 1 ORDER BY cohort"""),
    KeySpec.stream("stream_tumbling", streamTumbling, hourlyTotalsSql),
    KeySpec.stream("stream_bidask_spread", streamBidaskSpread,
      // the flushed streaming quote summary equals the batch namesake
      // key bit-for-bit, so it SHARES that oracle (divergence-proof)
      TimeSeries.bidaskSpreadSql),
    KeySpec.stream("stream_asof_enrich", streamAsofEnrich,
      // the flushed temporal join equals the batch as-of exactly: the
      // same correlated-subquery oracle shape the native as-of keys use
      s"""WITH ${TimeSeries.tradesWithMidSql}
         SELECT event_id, user_id, ts, mid FROM j ORDER BY event_id"""),
    KeySpec.stream("stream_cep_pattern", streamCepPattern,
      // the flushed CEP match stream equals the batch lag-window
      // compilation of the same pattern — an independent formulation
      // (window scan vs state machine), per-match rows
      s"""WITH t AS (${TimeSeries.cepTicksSql})
         SELECT event_id, user_id, ts, vc - v1 AS rebound_cents,
           v3 - v1 AS depth_cents
         FROM t WHERE v3 > v2 AND v2 > v1 AND vc > v1
         ORDER BY event_id"""),
    KeySpec.stream("stream_static_join", streamStaticJoin,
      // stream-static join is stateless: flushed windows equal the
      // batch join + hour aggregate over the same profile dim
      s"""WITH profile AS (
           SELECT user_id, count(*) // 20 AS band FROM events GROUP BY user_id)
         SELECT CAST(date_trunc('hour', CAST(e.ts AS TIMESTAMP)) AS TIMESTAMP) AS w_start,
           p.band, count(*) AS n,
           ${sqlSum2("e.value")} AS sum_value
         FROM events e JOIN profile p USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2"""),
    KeySpec.stream("stream_chained_agg", streamChainedAgg,
      // the chained 15-min → 1-hour cascade collapses to the direct
      // hour aggregate (exact decimal partials make the re-sum exact)
      hourlyTotalsSql),
    KeySpec.stream("stream_sliding", streamSliding,
      s"""SELECT CAST(to_timestamp((floor(epoch(CAST(ts AS TIMESTAMP))/900) - j) * 900) AS TIMESTAMP) AS w_start,
           count(*) AS n,
           ${sqlSum2("value")} AS sum_value
         FROM events CROSS JOIN (SELECT unnest([0,1,2,3]) AS j)
         GROUP BY 1 ORDER BY 1"""),
    KeySpec.stream("stream_session", streamSession,
      s"""WITH marked AS (
           SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
             CASE WHEN CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP))
                 OVER (PARTITION BY user_id ORDER BY ts) <= INTERVAL 30 MINUTE
               THEN 0 ELSE 1 END AS new_sess
           FROM events),
         sessioned AS (
           SELECT user_id, ts, value,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
           FROM marked)
         SELECT min(ts) AS sess_start, user_id, count(*) AS n,
           ${sqlSum2("value")} AS sum_value
         FROM sessioned GROUP BY user_id, sess_id
         ORDER BY user_id, sess_start"""),
    // no oracle (adjudicated): the contract is emission timing,
    // not end state — stream_late_data_final is the oracled twin
    KeySpec("stream_late_data", streamLateData, oracle = None, shuffleBudget = None),
    KeySpec.stream("stream_late_data_final", streamLateDataFinal,
      // the batch formulation of the late-drop rule (see streamLateDataFinal):
      // keep on-time rows (ts < S), the fast arrival (ts = M), and late
      // rows whose hourly window the watermark M - 1h had not sealed
      """WITH b AS (
           SELECT date_trunc('day', min(CAST(ts AS TIMESTAMP))) + INTERVAL 15 DAY AS s,
                  max(CAST(ts AS TIMESTAMP)) AS m
           FROM events),
         kept AS (
           SELECT CAST(e.ts AS TIMESTAMP) AS ts, e.event_type
           FROM events e, b
           WHERE CAST(e.ts AS TIMESTAMP) < b.s
              OR CAST(e.ts AS TIMESTAMP) = b.m
              OR date_trunc('hour', CAST(e.ts AS TIMESTAMP)) + INTERVAL 1 HOUR
                   > b.m - INTERVAL 1 HOUR)
         SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS w_start,
           event_type, count(*) AS n
         FROM kept GROUP BY 1, 2 ORDER BY 1, 2"""),
    KeySpec.stream("stream_dedup", streamDedup, graft.operators.Etl.eventTypeTotalsSql),
    KeySpec.stream("stream_stateful", streamStateful, purchaseTotalsSql),
    KeySpec.stream("stream_stateful_tws", streamStatefulTws, purchaseTotalsSql),
    KeySpec.stream("stream_stateful_map", streamStatefulMap,
      """SELECT user_id, event_type, count(*) AS n
         FROM events GROUP BY user_id, event_type
         ORDER BY user_id, event_type"""),
    KeySpec.stream("stream_stateful_list", streamStatefulList,
      s"""WITH p AS (
           SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_total
           FROM events WHERE event_type = 'purchase')
         SELECT user_id, n_total, count(*) AS n_recent,
           ${sqlSum2("value")} / count(*)
             AS recent_mean
         FROM p WHERE rn <= 3
         GROUP BY user_id, n_total ORDER BY user_id""")).map(_.reads(StreamFeeds: _*))
}
