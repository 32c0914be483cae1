package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Drives the `graft.SparkEntry.queries` registry from outside: one
  * workload is one key list, run as a closed loop with a single client
  * (key after key, each pass in an order shuffled by the seed), each
  * result fully materialized through the `noop` sink.
  *
  * Phases, all in one JVM:
  *  1. set-up, repeated `setups` times: session start, then staging of
  *     the workload's `IndexStore` artifacts from an empty index dir;
  *  2. two untimed warm-up passes; the first writes each key's result
  *     as parquet, with the keys' oracle SQL beside them, for the DuckDB
  *     output check that `run.py` makes with `tools/preflight.py`;
  *  3. timed passes until `seconds` have elapsed (whole passes, at
  *     least six);
  *     with `trace` on, passes alternate between untraced and traced,
  *     so the difference between the two is the tracing overhead.
  *
  * Raw samples go to `out` as JSON; every statistic is computed by
  * `stats.py`.
  *
  * Usage: Harness <data> <work> <out> <keys,...> <stage,...|-> <seed>
  *                <seconds> <trace 0|1> <setups> */
object Harness {

  def main(args: Array[String]): Unit = {
    val Array(data, work, out, keyArg, stageArg, seedArg, secArg, traceArg, setupArg) = args
    val keys = keyArg.split(",").toSeq
    val staging = if (stageArg == "-") Nil else stageArg.split(",").toSeq
    val seconds = secArg.toDouble
    val traced = traceArg == "1"
    val registry = graft.SparkEntry.queries
    val missing = (keys ++ staging).filterNot(registry.contains)
    if (missing.nonEmpty) {
      System.err.println(s"[perfbench] keys not in SparkEntry.queries: ${missing.mkString(", ")}")
      sys.exit(3)
    }
    val indexDir = Paths.get(graft.IndexStore.root)
    val rng = new scala.util.Random(seedArg.toLong)

    // -- 1. set-up ------------------------------------------------------
    val setupS = ArrayBuffer.empty[Double]
    val stageS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (r <- 1 to setupArg.toInt) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      deleteTree(indexDir)
      val t0 = System.nanoTime()
      spark = session(work)
      val t1 = System.nanoTime()
      staging.foreach(k => materialize(registry(k)(spark, data)))
      val t2 = System.nanoTime()
      setupS += (t2 - t0) / 1e9
      stageS += (t2 - t1) / 1e9
    }
    val artifacts =
      if (Files.isDirectory(indexDir)) Files.list(indexDir).iterator().asScala
        .map(_.getFileName.toString).toSeq.sorted
      else Nil
    val sc = spark.sparkContext

    // -- 2. warm-up: two passes, the first dumps each result for the check
    val failures = ArrayBuffer.empty[Map[String, Any]]
    var attempted = 0L
    def runKey(key: String, pass: Int, tracer: Option[Tracer],
        dumpTo: Option[String] = None): Map[String, Any] = {
      attempted += 1
      val span = s"$pass:$key"
      sc.setJobDescription(s"perfbench pass=$pass key=$key")
      sc.setLocalProperty(Tracer.SpanProp, span)
      tracer.foreach(_.begin(span))
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        val df = registry(key)(spark, data)
        t1 = System.nanoTime()
        dumpTo match {
          case Some(path) => df.coalesce(1).write.parquet(path)
          case None => materialize(df)
        }
      } catch {
        case e: Throwable =>
          failures += Map("key" -> key, "pass" -> pass,
            "error" -> String.valueOf(e.getMessage).take(300))
          System.err.println(s"[perfbench] $key failed: ${e.getMessage}")
      }
      val t2 = System.nanoTime()
      if (t1 == t0) t1 = t2
      sc.setLocalProperty(Tracer.SpanProp, null)
      sc.setJobDescription(null)
      val rec = Map[String, Any]("key" -> key,
        "start_ms" -> wallMs(t0), "construct_end_ms" -> wallMs(t1), "end_ms" -> wallMs(t2),
        "latency_s" -> (t2 - t0) / 1e9, "construct_s" -> (t1 - t0) / 1e9)
      tracer.fold(rec)(t => rec ++ t.end(span))
    }
    val dump = Paths.get(work, "dump")
    deleteTree(dump)
    val w0 = System.nanoTime()
    keys.foreach(k => runKey(k, 0, None, Some(dump.resolve(k).toString)))
    rng.shuffle(keys).foreach(k => runKey(k, 0, None))
    val warmupS = (System.nanoTime() - w0) / 1e9

    // -- 3. timed passes ------------------------------------------------
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum
    val start = System.nanoTime()
    var p = 0
    // at least six passes, so each key's median rejects disturbed runs
    // and the pooled median rests on enough samples; the count is the
    // same from run to run, since passes still get faster as HotSpot
    // compiles and a varying count would move the medians. Traced runs
    // go untraced, traced, traced, untraced, ... so drift falls on both
    val minPasses = 6
    while ((System.nanoTime() - start) / 1e9 < seconds || p < minPasses) {
      p += 1
      val on = traced && p % 4 >= 2
      val tr = if (on) tracer else None
      tr.foreach(_.attach())
      val order = rng.shuffle(keys)
      val c0 = osBean.getProcessCpuTime
      val g0 = gcMs(); val j0 = jit.getTotalCompilationTime
      val t0 = System.nanoTime()
      val runs = order.map(k => runKey(k, p, tr))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (osBean.getProcessCpuTime - c0) / 1e9
      val gc = (gcMs() - g0) / 1e3; val jitS = (jit.getTotalCompilationTime - j0) / 1e3
      tr.foreach(_.detach())
      val heap = liveHeapMb()
      passes += Map("pass" -> p, "traced" -> on, "wall_s" -> wall, "cpu_s" -> cpu,
        "jvm_gc_s" -> gc, "jit_s" -> jitS, "heap_after_gc_mb" -> heap, "keys" -> runs)
    }

    // the pre-flight reads the oracle SQL beside the results it checks
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    json.writeValue(dump.resolve("oracle_sql.json").toFile, oracle)

    val result = Map[String, Any](
      "cores" -> sc.defaultParallelism,
      "setup_s" -> setupS.toSeq, "stage_s" -> stageS.toSeq, "artifacts" -> artifacts,
      "warmup_s" -> warmupS, "passes" -> passes.toSeq, "attempted" -> attempted,
      "failures" -> failures.toSeq, "oracle_keys" -> oracle.keys.toSeq.sorted,
      "dump" -> dump.toString)
    json.writeValue(Paths.get(out).toFile, result)
    spark.stop()
  }

  /** The session `graft.Bench` builds (scratch confs, UTC,
    * `nanosAsLong`, in-memory catalog), with every scratch directory
    * moved under `work`. */
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val b = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
    graft.scratchConfs.foreach { case (k, v) => b.config(k, v) }
    val s = b.config("spark.local.dir", s"$work/local")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap in use after collections repeated until it stops shrinking:
    * the context cleaner frees broadcast and shuffle state only after a
    * collection has enqueued its weak references, so one `System.gc()`
    * reads cleanup in flight rather than the live set. */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = { System.gc(); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    @annotation.tailrec def settle(prev: Double, rounds: Int): Double = {
      Thread.sleep(100)
      val cur = collect()
      if (prev - cur > 0.5 && rounds < 5) settle(cur, rounds + 1) else cur
    }
    settle(collect(), 1)
  }

  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** `System.nanoTime` reading as epoch milliseconds, so harness spans
    * line up with the listener events' wall-clock stamps. */
  private val nanoOrigin = System.nanoTime()
  private val msOrigin = System.currentTimeMillis()
  def wallMs(nanos: Long): Double = msOrigin + (nanos - nanoOrigin) / 1e6

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}

/** In-memory trace of one traced pass at a time. Spans come from the
  * three listener kinds Spark offers (scheduler, query execution,
  * streaming); counters are summed per key run. Each key run is drained
  * off the listener bus before the next one starts, so every event is
  * charged to the key that caused it. */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val sc = spark.sparkContext
  @volatile private var current: String = ""
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val maxima = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private var codegen0 = 0L

  private def add(k: String, v: Long): Unit =
    counters.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)
  private def max(k: String, v: Long): Unit =
    maxima.computeIfAbsent(k, _ => new AtomicLong()).accumulateAndGet(v, Math.max(_, _))
  private def parentOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp))).getOrElse(current)

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = parentOf(e.properties)
      jobStart.put(e.jobId, (e.time, parent))
      e.stageIds.foreach(stageJob.put(_, e.jobId))
      add("scheduler.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, parent) =>
        spans.add(Map("kind" -> "job", "id" -> s"job${e.jobId}", "parent" -> parent,
          "start_ms" -> t0, "end_ms" -> e.time))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      add("scheduler.stages", 1)
      for (t0 <- i.submissionTime; t1 <- i.completionTime)
        spans.add(Map("kind" -> "stage", "id" -> s"stage${i.stageId}.${i.attemptNumber()}",
          "parent" -> s"job${stageJob.getOrDefault(i.stageId, -1)}",
          "start_ms" -> t0, "end_ms" -> t1))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      add("scheduler.tasks", 1)
      add("task.duration_ms", info.duration)
      if (m == null) return
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      add("scheduler.delay_ms", math.max(0L, delay))
      add("executor.run_ms", m.executorRunTime)
      add("executor.cpu_ns", m.executorCpuTime)
      add("executor.deserialize_ms", m.executorDeserializeTime)
      add("executor.gc_ms", m.jvmGCTime)
      max("executor.peak_mem_b", m.peakExecutionMemory)
      add("executor.spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("tables.scan_rows", m.inputMetrics.recordsRead)
      add("tables.scan_bytes", m.inputMetrics.bytesRead)
      add("shuffle.write_b", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle.write_ns", m.shuffleWriteMetrics.writeTime)
      add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("sink.rows", m.outputMetrics.recordsWritten)
      add("sink.write_b", m.outputMetrics.bytesWritten)
    }
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { ph =>
        phases.get(ph).foreach(s => add(s"planner.${ph}_ms", s.durationMs))
      }
      walk(qe.executedPlan)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def walk(p: SparkPlan): Unit = {
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
      case q: QueryStageExec => walk(q.plan); return
      case _: ReusedExchangeExec => add("shuffle.reused", 1); return
      case _: ShuffleExchangeLike => add("shuffle.exchanges", 1)
      case f: FileSourceScanExec =>
        f.metrics.get("scanTime").foreach(m => add("tables.scan_ms", m.value))
      case w: DataWritingCommandExec =>
        Seq("taskCommitTime", "jobCommitTime").foreach(n =>
          w.cmd.metrics.get(n).foreach(m => add("sink.write_ms", m.value)))
      case _ =>
    }
    p.children.foreach(walk)
    p.subqueries.foreach(walk)
  }

  private val streams = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val pr = e.progress
      val d = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val trig = d.getOrElse("triggerExecution", 0L)
      val t0 = java.time.Instant.parse(pr.timestamp).toEpochMilli
      add("streaming.batches", 1)
      Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets").foreach(k =>
        add(s"streaming.$k", d.getOrElse(k, 0L)))
      pr.stateOperators.foreach { s =>
        add("streaming.state_commit_ms", s.commitTimeMs)
        max("streaming.state_mem_b", s.memoryUsedBytes)
      }
      spans.add(Map("kind" -> "microbatch", "id" -> s"${pr.runId}/${pr.batchId}",
        "parent" -> current, "start_ms" -> t0, "end_ms" -> (t0 + trig), "trigger_ms" -> trig))
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(scheduler)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)
  }

  def detach(): Unit = {
    sc.removeSparkListener(scheduler)
    spark.listenerManager.unregister(queries)
    spark.streams.removeListener(streams)
  }

  def begin(span: String): Unit = {
    counters.clear(); maxima.clear(); spans.clear()
    current = span
    codegen0 = compiles()
  }

  /** Drains the bus and hands back this key run's counters and spans. */
  def end(span: String): Map[String, Any] = {
    org.apache.spark.graft.ListenerDrain.drain(sc)
    add("planner.codegen_compiles", compiles() - codegen0)
    val c = counters.asScala.map { case (k, v) => k -> v.get }.toMap ++
      maxima.asScala.map { case (k, v) => k -> v.get }
    Map("counters" -> c, "spans" -> spans.asScala.toSeq)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
