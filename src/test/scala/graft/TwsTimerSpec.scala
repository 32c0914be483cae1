package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
import java.sql.Timestamp

/** `transformWithState` event-time TIMERS
  * (Streaming.SessionTimerProcessor): a per-user session-close timer
  * 30 min past the latest event fires when the WATERMARK passes it —
  * the closed row carries the final count and the state is cleared
  * (bounded state driven by event time, not wall clock). */
class TwsTimerSpec extends SparkTestBase {

  import streaming.Streaming.Ev

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private def ev(id: Long, uid: Long, minute: Int) =
    Ev(id, ts(minute), uid, "click", 1.0, "{}")

  test("event-time timer fires when the watermark passes session close") {
    import spark.implicits._
    val stream = MemoryStream[Ev](spark)
    val sink = s"tws_timer_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = GraftSession.withConfs(spark, Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")) {
      stream.toDF()
        .withWatermark("ts", "0 seconds").as[Ev]
        .groupByKey(_.user_id)
        .transformWithState[(Long, Long, Boolean)](
          new streaming.Streaming.SessionTimerProcessor(),
          TimeMode.EventTime(), OutputMode.Update())
        .toDF("user_id", "n_events", "closed")
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Update()).start()
    }
    try {
      // user 1: two events (minutes 0, 10) → timer at minute 40
      stream.addData(ev(1, 1L, 0), ev(2, 1L, 10))
      q.processAllAvailable()
      // user 2 at minute 20: watermark → 20, before user 1's timer
      stream.addData(ev(3, 2L, 20))
      q.processAllAvailable()
      // user 2 again at minute 120: watermark → 120, past user 1's
      // timer @40 → user 1's session closes. User 2's own @50 timer
      // does NOT fire: its new event arrives in the same batch (before
      // the watermark advances) and re-registers the timer to @150 —
      // input rows are processed against the batch-START watermark,
      // which is the documented transformWithState ordering.
      stream.addData(ev(4, 2L, 120))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(sink).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.filter(_._3).toSeq == Seq((1L, 2L, true)),
      s"expected exactly user 1's 2-event session closed via timer: ${rows.toSeq}")
    // user 2 stays open: two closed=false updates, no close row
    assert(rows.count(r => r._1 == 2L && !r._3) == 2,
      s"expected two open-session updates for user 2: ${rows.toSeq}")
  }
}
