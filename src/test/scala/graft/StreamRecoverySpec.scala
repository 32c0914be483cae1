package graft

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Streaming CRASH-RECOVERY specs (r10 verdict #3): every stream key
  * verifies final-state equality under a CLEAN run; these three specs
  * exercise the exactly-once claim across a KILL — a query is stopped
  * abruptly mid-feed (after k of n micro-batches have committed, with
  * batch k+1 potentially in flight), restarted from the same
  * checkpoint, and the flushed result must STILL equal the batch
  * oracle:
  *
  *  1. stateful windowed aggregation → parquet file sink: committed
  *     batches must not re-emit (the sink's `_spark_metadata` log is
  *     the dedup ledger), uncommitted ones must replay — no window is
  *     lost or doubled;
  *  2. stream-stream interval join: join STATE (both sides' buffered
  *     rows) must reload from the RocksDB checkpoint so matches that
  *     straddle the kill point are still found exactly once;
  *  3. the snapshot-table sink ([[graft.operators.SnapshotTable
  *     .commitAppend]]): a retried epoch must OVERWRITE its own unit
  *     and re-commit an identical manifest (the epoch-idempotence
  *     contract) — total rows equal the feed exactly, one version per
  *     epoch, no double-append.
  *
  * All three run on the RocksDB state store provider with changelog
  * checkpointing — the production recovery path, not the in-memory
  * test default. */
class StreamRecoverySpec extends SparkTestBase {

  import streaming.Streaming.Ev
  import scala.jdk.CollectionConverters._

  private val NFiles = 5

  /** Stage sf0.001's 1000 events as `NFiles` ts-ordered parquet files
    * (one micro-batch each under maxFilesPerTrigger=1), plus an
    * optional far-future sealer row in its own trailing file so every
    * real event-time window closes in a data batch. Spec-scale
    * only — the production feed staging, cut on minute boundaries,
    * is Streaming.stagedFeed. */
  private def buildFeed(dir: String, sealer: Boolean): Unit = {
    import java.nio.file.{Files, Paths}
    import scala.reflect.io.Directory
    new Directory(new java.io.File(dir)).deleteRecursively()
    Files.createDirectories(Paths.get(dir))
    import spark.implicits._
    val evs = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Ev].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val chunks0 = evs.grouped((evs.length + NFiles - 1) / NFiles).toSeq
    // TWO sealer batches: the watermark computed from sealer 1's max
    // event time only APPLIES at the start of the following batch
    // (the stagedFeed two-sentinel lesson) — sealer 2 is that batch
    val chunks =
      if (!sealer) chunks0
      else chunks0 ++ Seq(
        Array(Ev(-1L, java.sql.Timestamp.valueOf("2099-01-01 00:00:00"),
          -1L, "__seal__", 0.0, "")),
        Array(Ev(-2L, java.sql.Timestamp.valueOf("2099-01-02 00:00:00"),
          -1L, "__seal__", 0.0, "")))
    chunks.zipWithIndex.foreach { case (rows, i) =>
      val stage = s"$dir/_stage_$i"
      spark.createDataset(rows.toSeq).coalesce(1).write.parquet(stage)
      val part = {
        val l = Files.list(Paths.get(stage))
        try l.iterator()
        .asScala.filter(_.getFileName.toString.endsWith(".parquet")).next()
        finally l.close()
      }
      val target = Paths.get(dir, f"feed_$i%03d.parquet")
      Files.move(part, target)
      // FileStreamSource orders by modification time
      Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 2000L))
      new Directory(new java.io.File(stage)).deleteRecursively()
    }
  }

  private def withRecoveryConfs[T](body: => T): T = GraftSession.withConfs(spark, Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"))(body)

  /** Run `build` over the staged feed into `start`-provided sink.
    * `killAfter = Some(k)`: stop abruptly once ≥ k batches have
    * reported progress (batch k+1 may be mid-flight — that's the
    * point); None: drain to completion. */
  private def runFeed(feed: String, ckpt: String, killAfter: Option[Int])(
      start: DataFrame => org.apache.spark.sql.streaming.StreamingQuery): Int = {
    val src = spark.readStream.schema(Encoders.product[Ev].schema)
      .option("maxFilesPerTrigger", "1").parquet(feed)
    val q = start(src)
    killAfter match {
      case Some(k) =>
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (q.isActive && q.recentProgress.length < k &&
          System.nanoTime() < deadline) Thread.sleep(20)
        assert(q.recentProgress.length >= k,
          s"kill point never reached: ${q.recentProgress.length} < $k batches")
        // abrupt: interrupts whatever batch is in flight
        try { q.stop(); q.awaitTermination() }
        catch { case _: Exception => () } // a killed in-flight batch may surface here
      case None =>
        try q.awaitTermination() finally q.stop()
    }
    q.recentProgress.length
  }

  private def fileSink(df: DataFrame, ckpt: String, out: String,
      mode: OutputMode) =
    df.writeStream.outputMode(mode)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", out).start()

  private def scratch(tag: String): (String, String, String) = {
    val dir = scratchDir(s"graft_recovery_$tag")
    (s"$dir/feed", s"$dir/ckpt", s"$dir/out")
  }

  test("kill-resume: windowed stateful agg equals the batch oracle exactly") {
    val (feed, ckpt, out) = scratch("agg")
    buildFeed(feed, sealer = true)
    def build(src: DataFrame): DataFrame =
      src.withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(30,6)")).as("sum_value"))
        .select(col("window.start").as("w_start"), col("event_type"),
          col("n"), col("sum_value"))
    withRecoveryConfs {
      // phase 1: kill after 2 committed batches (of 6)
      runFeed(feed, ckpt, Some(2))(src =>
        fileSink(build(src), ckpt, out, OutputMode.Append()))
      // phase 2: restart from the same checkpoint; drain the rest
      runFeed(feed, ckpt, None)(src =>
        fileSink(build(src), ckpt, out, OutputMode.Append()))
    }
    val got = spark.read.parquet(out)
      .filter(col("event_type") =!= "__seal__")
      .filter(col("w_start") < lit("2099-01-01"))
    // Append emits each sealed window exactly once — a duplicate
    // (w_start, event_type) means a committed batch re-emitted
    val dups = got.groupBy("w_start", "event_type").count()
      .filter(col("count") > 1).count()
    assert(dups == 0, s"$dups window rows double-emitted across the kill")
    val oracle = spark.read.schema(Encoders.product[Ev].schema).parquet(feed)
      .filter(col("event_type") =!= "__seal__")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,6)")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))
    assert(got.exceptAll(oracle).isEmpty && oracle.exceptAll(got).isEmpty,
      "post-resume flushed windows differ from the batch aggregate")
  }

  test("kill-resume: stream-stream interval join finds every match exactly once") {
    val (feed, ckpt, out) = scratch("join")
    buildFeed(feed, sealer = false)
    def build(src: DataFrame): DataFrame = {
      val clicks = src.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("event_id").as("click_id"))
        .withWatermark("c_ts", "1 hour")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("purchase_id"), col("value"))
        .withWatermark("p_ts", "1 hour")
      purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"))
        .select(col("purchase_id"), col("click_id"))
    }
    withRecoveryConfs {
      runFeed(feed, ckpt, Some(2))(src =>
        fileSink(build(src), ckpt, out, OutputMode.Append()))
      runFeed(feed, ckpt, None)(src =>
        fileSink(build(src), ckpt, out, OutputMode.Append()))
    }
    val got = spark.read.parquet(out)
    val dups = got.groupBy("purchase_id", "click_id").count()
      .filter(col("count") > 1).count()
    assert(dups == 0, s"$dups join pairs double-emitted across the kill")
    val evs = spark.read.schema(Encoders.product[Ev].schema).parquet(feed)
    val oracle = evs.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .join(evs.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
            col("event_id").as("click_id")),
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"))
      .select(col("purchase_id"), col("click_id"))
    assert(got.exceptAll(oracle).isEmpty && oracle.exceptAll(got).isEmpty,
      "post-resume join pairs differ from the batch interval join")
  }

  test("kill-resume: snapshot sink re-commits its epoch idempotently") {
    val (feed, ckpt, root) = scratch("snap")
    buildFeed(feed, sealer = false)
    import graft.operators.SnapshotTable
    def start(src: DataFrame) =
      src.writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           epoch: Long) =>
            SnapshotTable.commitAppend(batch.toDF(), root, epoch)
        }
        .outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
    withRecoveryConfs {
      runFeed(feed, ckpt, Some(2))(start)
      runFeed(feed, ckpt, None)(start)
    }
    // exactly once: the table holds THE feed — no loss from the kill,
    // no duplication from the retried epoch's re-commit
    val latest = SnapshotTable.latestVersion(root)
    assert(latest == NFiles - 1,
      s"expected one version per epoch (0..${NFiles - 1}), got latest=$latest")
    val table = SnapshotTable.readSnapshot(spark, root, latest)
    assert(table.count() == 1000L,
      s"snapshot holds ${table.count()} rows, feed has 1000 — epoch replay " +
        "double-appended or dropped a batch")
    val gotIds = table.select("event_id").distinct().count()
    assert(gotIds == 1000L, s"only $gotIds distinct event_ids of 1000")
  }

  test("kill-resume: CEP pattern state crosses the checkpoint — matches spanning the kill found exactly once") {
    import org.apache.spark.sql.expressions.Window
    val (feed, ckpt, out) = scratch("cep")
    // no sealers: the CEP state fn is NoTimeout/Append — nothing
    // waits on a watermark (the streamAsofEnrich feed class)
    buildFeed(feed, sealer = false)
    withRecoveryConfs {
      // phase 1: kill after 2 of 5 batches — the (last 3 ticks) tuple
      // for every user must reload from RocksDB so a V-reversal whose
      // falling leg straddles the kill is still detected, once
      runFeed(feed, ckpt, Some(2))(src =>
        fileSink(streaming.Streaming.cepStream(src), ckpt, out,
          OutputMode.Append()))
      runFeed(feed, ckpt, None)(src =>
        fileSink(streaming.Streaming.cepStream(src), ckpt, out,
          OutputMode.Append()))
    }
    val got = spark.read.parquet(out)
      .select("event_id", "user_id", "rebound_cents", "depth_cents")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == got.distinct.length,
      "a committed batch re-emitted matches across the kill")
    // batch reference: the lag-window compilation over the same feed
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val want = spark.read.schema(Encoders.product[Ev].schema).parquet(feed)
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("ts"), col("user_id"),
        Det.cents(col("value")).as("vc"))
      .withColumn("v1", lag("vc", 1).over(w))
      .withColumn("v2", lag("vc", 2).over(w))
      .withColumn("v3", lag("vc", 3).over(w))
      .filter(col("v3") > col("v2") && col("v2") > col("v1") &&
        col("vc") > col("v1"))
      .collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
        r.getAs[Long]("vc") - r.getAs[Long]("v1"),
        r.getAs[Long]("v3") - r.getAs[Long]("v1")))
    assert(got.toSet == want.toSet,
      s"missing: ${want.toSet -- got.toSet}; extra: ${got.toSet -- want.toSet}")
    assert(want.nonEmpty)
  }
}
