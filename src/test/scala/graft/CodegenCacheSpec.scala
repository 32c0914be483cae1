package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark's generated-code cache holds every class the registry needs,
  * so a query that runs again reuses its compiled classes instead of
  * running Janino and HotSpot's warm-up over again. */
class CodegenCacheSpec extends SparkTestBase {

  /** The `bidask_ts` benchmark workload's keys (perfbench/workloads.py). */
  private val bidaskKeys = Seq("ts_bidask_spread", "ts_effective_spread", "ts_vwap",
    "ts_ewma", "ts_ohlc_bars", "win_rank", "win_frame_range", "join_asof",
    "join_asof_native")

  test("the session's codegen cache cap is CodegenCacheEntries") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      CodegenCacheEntries.toString)
  }

  test("a second pass over the bidask keys compiles no generated class") {
    // the cap is read once, when CodeGenerator first loads; a cache
    // smaller than the keys' working set evicts classes between passes
    def pass(): Seq[(String, Long)] = bidaskKeys.map { k =>
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      SparkEntry.queries(k)(spark, sf).write.format("noop").mode("overwrite").save()
      k -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }
    val first = pass()
    info(s"first pass compiled ${first.map(_._2).sum} classes")
    val recompiled = pass().filter(_._2 > 0)
    assert(recompiled.isEmpty, s"keys that compiled again on the second pass: $recompiled")
  }

  test("a second stream_dedup run compiles no class and adds no executor session") {
    // each stream query runs on a cloned session; artifact isolation
    // would give each clone its own executor class loader, which is
    // part of the codegen cache key
    val sessions0 = org.apache.spark.graft.ExecutorSessions.count
    def run(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      SparkEntry.queries("stream_dedup")(spark, sf).write.format("noop").mode("overwrite").save()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    info(s"first run compiled ${run()} classes")
    val recompiled = run()
    val sessions = org.apache.spark.graft.ExecutorSessions.count
    info(s"executor isolated sessions: $sessions0 before, $sessions after")
    assert(recompiled == 0, s"the second run compiled $recompiled classes again")
    assert(sessions <= sessions0, "each run added an executor isolated session")
  }
}
