package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan

/** Audits every registered query's executed plan for scale smells:
  * cartesian products, broadcast-nested-loop joins, and missing
  * codegen — one finding line each. Callable from the spec suite
  * (PlanContractSpec enforces an empty finding list every `sbt test`)
  * and from the CLI main for ad-hoc runs. */
object PlanAudit {
  /** For keys whose returned plan is a construction-result local
    * relation, the plan the audit should actually grade (r15, ADVICE):
    * without this substitution the smell scan and shuffle budget for
    * `join_skew_aqe` would audit a LocalTableScan — vacuously clean.
    * The captured plan is the skew-split join the key exists to run;
    * reading it releases it, so call this once per construction. */
  def constructionPlan(name: String): Option[SparkPlan] = name match {
    case "join_skew_aqe" => operators.Relational.takeSkewJoinExec()
    case _ => None
  }

  /** Count the shuffles (Exchange operators) the executed plan
    * actually ran, walking through AQE wrappers and query stages and
    * into subqueries. ReusedExchange is NOT counted — it reads a
    * sibling's shuffle output instead of shuffling again, which is
    * the thing a budget should reward. */
  def countShuffles(p: SparkPlan): Int = countExchanges(p, _.executedPlan)

  /** The same count over each AQE wrapper's `initialPlan`, the physical
    * plan before any query stage ran. AQE's final plan depends on the
    * order its stages finish in, so one exchange can come and go in
    * unchanged code; the initial plan does not. */
  private def countInitialShuffles(p: SparkPlan): Int = countExchanges(p, _.initialPlan)

  private def countExchanges(p: SparkPlan,
      aqePlan: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => SparkPlan): Int = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    var n = 0
    def walk(x: SparkPlan): Unit = {
      x match {
        case a: AdaptiveSparkPlanExec => walk(aqePlan(a)); return
        case q: QueryStageExec => walk(q.plan); return
        case _: ReusedExchangeExec => return
        case s: ShuffleExchangeLike => n += 1
        case _ =>
      }
      x.children.foreach(walk)
      x.subqueries.foreach(walk)
    }
    walk(p)
    n
  }

  /** True iff some parquet scan in the plan pushed at least one
    * filter into the reader. */
  def hasPushedFilters(p: SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    var found = false
    def walk(x: SparkPlan): Unit = {
      x match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
        case q: QueryStageExec => walk(q.plan); return
        case f: FileSourceScanExec =>
          if (f.metadata.get("PushedFilters").exists(v => v != "[]")) found = true
        case _ =>
      }
      x.children.foreach(walk)
      x.subqueries.foreach(walk)
    }
    walk(p)
    found
  }

  /** What the audit measures of one key: the Spark jobs its
    * construction ran (before the caller's own action), the plan it
    * returned, and the plan the audit grades — the captured
    * [[constructionPlan]] where there is one, else the returned plan. */
  private final case class Measurement(
      constructionJobs: Int, returned: SparkPlan, graded: SparkPlan) {
    def shuffles: Int = countShuffles(graded)
  }

  /** Build and collect one key at `d`, counting construction jobs.
    * The audit and `counts` both measure through here, so the number
    * `counts` prints is the number the audit grades. */
  private def measure(spark: SparkSession, spec: KeySpec, d: String): Measurement = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val df =
      try { spec.fn(spark, d) }
      finally {
        // the bus is async: drain before reading the counter
        org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    val constructionJobs = jobs.get()
    df.collect()
    val returned = df.queryExecution.executedPlan
    Measurement(constructionJobs, returned,
      constructionPlan(spec.name).getOrElse(returned))
  }

  /** The smells in one key's measurement, net of its [[KeySpec]]
    * exemptions. Over its shuffle budget is a smell (r6 verdict #7:
    * "minimal shuffle" as a failing test, not prose). */
  private def findings(spec: KeySpec, m: Measurement): Seq[String] = {
    val p = m.graded.toString
    val nShuf = m.shuffles
    Seq(
      "CartesianProduct" ->
        (p.contains("CartesianProduct") && spec.crossJoin.isEmpty),
      "BroadcastNestedLoopJoin" ->
        (p.contains("BroadcastNestedLoopJoin") && spec.crossJoin.isEmpty),
      "codegen-absent" -> (!p.contains("*(") && spec.codegenAbsent.isEmpty),
      s"driver-action-in-construction (${m.constructionJobs} jobs)" ->
        (m.constructionJobs > 0 && spec.constructionJobs.isEmpty),
      s"shuffles $nShuf over budget ${spec.shuffleBudget.mkString}" ->
        spec.shuffleBudget.exists(nShuf > _),
      "pushdown-absent" ->
        (spec.pushdown.isDefined && !hasPushedFilters(m.returned)))
      .collect { case (s, true) => s }
  }

  private def batchSpecs(specs: Seq[KeySpec]): Seq[KeySpec] =
    specs.filterNot(_.isStream).sortBy(_.name)

  /** Measure every batch key in `specs` at `d` and return one
    * "SMELL key: ..." / "ERROR key: ..." line per finding. Empty
    * result = audit clean. */
  def audit(spark: SparkSession, d: String,
      specs: Seq[KeySpec] = SparkEntry.specs): Seq[String] =
    batchSpecs(specs).flatMap { spec =>
      try {
        val bad = findings(spec, measure(spark, spec, d))
        if (bad.nonEmpty) Seq(s"SMELL ${spec.name}: ${bad.mkString(", ")}") else Nil
      } catch { case e: Throwable =>
        Seq(s"ERROR ${spec.name}: ${String.valueOf(e.getMessage).take(100)}")
      }
    }

  /** `key<TAB>measured<TAB>initial<TAB>declared` shuffle counts for
    * every batch key in `specs`: the graded plan's count, the same
    * plan's pre-AQE count ([[countInitialShuffles]], not graded; it is
    * higher where AQE reused or dropped an exchange at run time) and
    * the budget. A line whose measured count differs from the declared
    * budget ends in `<TAB>OVER` (the audit fails it) or `<TAB>under`
    * (allowed; tighten the budget when the headroom is not deliberate). */
  def counts(spark: SparkSession, d: String,
      specs: Seq[KeySpec] = SparkEntry.specs): Seq[String] =
    batchSpecs(specs).map { spec =>
      val declared = spec.shuffleBudget.mkString
      try {
        val m = measure(spark, spec, d)
        val n = m.shuffles
        val mark = spec.shuffleBudget.collect {
          case b if n > b => "\tOVER"
          case b if n < b => "\tunder"
        }.mkString
        s"${spec.name}\t$n\t${countInitialShuffles(m.graded)}\t$declared$mark"
      } catch { case e: Throwable =>
        s"${spec.name}\tERROR ${String.valueOf(e.getMessage).take(80)}\t$declared"
      }
    }

  /** Core count the audit, its shuffle budgets and the shared test
    * session run under. [[Tables.parallelizeKernel]] repartitions a
    * scan only when it is narrower than a quarter of the session's
    * cores, so one key can plan a different number of exchanges on
    * 4, 8 and 32 cores; [[KeySpec.shuffleBudget]]s hold at this count. */
  val AuditCores = 8

  /** `runMain graft.PlanAudit` prints one line per smell;
    * `... counts` prints `key<TAB>measured<TAB>initial<TAB>declared`
    * shuffle counts;
    * `... explain <outDir> <suffix> <key1,key2,...> <sfDir>` writes
    * each key's formatted plan to `<outDir>/<key>_<suffix>.txt`. */
  def main(args: Array[String]): Unit =
    if (args.headOption.contains("explain")) explain(args.tail)
    else auditMain(args)

  private def auditMain(args: Array[String]): Unit = {
    val spark = GraftSession.local(AuditCores)
    val d = "/root/testdata/sf0.001"
    (if (args.contains("counts")) counts(spark, d) else audit(spark, d))
      .foreach(println)
    println(s"AUDIT DONE (local[$AuditCores])")
    spark.stop()
  }

  /** Writes `.explain("formatted")` of registry keys to files, the
    * before/after plan evidence of an optimization (plans/r{N}/). Runs
    * under the Bench session width, [[GraftSession.cores]], so the
    * dumped plan is the benched plan. Streaming keys are skipped:
    * invoking one RUNS the query, and the returned frame is a sink
    * read-back whose plan says nothing about the streaming execution. */
  private def explain(args: Array[String]): Unit = {
    require(args.length == 4,
      "usage: PlanAudit explain <outDir> <suffix> <keys> <sfDir>")
    val Array(outDir, suffix, keyList, d) = args
    val keys = SparkEntry.keySubset(keyList)
    val spark = GraftSession.local(GraftSession.cores)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    keys.foreach { key =>
      if (key.startsWith("stream_")) {
        System.err.println(s"[explain] $key skipped (streaming)")
      } else {
        val txt = SparkEntry.queries(key)(spark, d).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val out = java.nio.file.Paths.get(s"$outDir/${key}_$suffix.txt")
        java.nio.file.Files.write(out, txt.getBytes("UTF-8"))
        println(s"[explain] wrote $out (${txt.count(_ == '\n')} lines)")
      }
    }
    spark.stop()
  }
}
