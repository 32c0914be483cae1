package graft

/** In-tree wall-time regression gate (r10 verdict #6): the
  * shuffle-budget ledger pins every key's PLAN shape, but nothing
  * pinned its RATE — a regression surfaced only at the next driver
  * bench. This main compares each key's best-of-n wall against the
  * COMMITTED per-key medians in `tools/bench_baseline.json` (distilled
  * from the latest committed full-run medians — r11 close at the
  * time of writing; sf0.1, local[32]) and fails loudly on
  * any key slower than `SPARK_GRAFT_GATE_FACTOR`× its baseline
  * (default 3×, the same threshold the verdict named).
  *
  * Opt-in by construction (a main, never part of `sbt test`):
  *
  *   sbt "runMain graft.BenchGate [key1,key2,...]"   # default: all
  *
  * Quiet-window discipline: the gate is only meaningful on an
  * otherwise idle machine — AMBIENT loadavg is captured once, before
  * the gate does any work (mid-run loadavg is contaminated by the
  * gate's own previous keys), and an over-threshold key under
  * ambient load > cores downgrades to WARN rather than FAIL, counted
  * separately from the OK line. An over-threshold key also gets one
  * retry before any verdict — a transient stall shouldn't mint a
  * FAIL; a real regression reproduces. First run of each key is
  * UNTIMED (covers IndexStore staging and JIT — the same exclusion
  * the bench warm-up performs); the gate then takes best-of-2, and a
  * FAIL requires both >factor× and >0.3 s absolute over the baseline
  * (sub-100 ms keys sit on a fixed scheduling floor).
  *
  * Refreshing the baseline after a DELIBERATE perf change: run the
  * full Bench, then copy bench_last.json's `medians` into
  * tools/bench_baseline.json (tools/distill_baseline.py does this)
  * and commit it with the change that moved the numbers. */
object BenchGate {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_GATE_FACTOR", "3.0").toDouble
    // keySubset rejects a typo'd key, which would gate zero keys
    val only: Option[Set[String]] =
      args.headOption.map(SparkEntry.keySubset(_).toSet)
    val baselinePath = sys.env.getOrElse(
      "SPARK_GRAFT_GATE_BASELINE", "tools/bench_baseline.json")
    val baseline = BenchAmbient.readBaseline(baselinePath)
    require(baseline.nonEmpty, s"empty or missing baseline at $baselinePath")
    val spark = GraftSession.local(GraftSession.cores)
    val keys = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // AMBIENT load, captured before the gate does any work: loadavg
    // sampled mid-run is contaminated by the gate's own previous keys
    // (a 32-core key pushes the 1-min average over the core count for
    // the next minute on an otherwise idle box), which would
    // systematically downgrade real FAILs to WARN
    val ambientLoad = BenchAmbient.loadAvg()
    var fails = List.empty[String]
    var warns = List.empty[String]
    var skipped = List.empty[String]
    keys.foreach { case (name, fn) =>
      baseline.get(name) match {
        case None =>
          // a key newer than the committed baseline: not gateable yet
          skipped ::= name
        case Some(base) =>
          try {
            fn(spark, sfDir).count() // untimed: staging + JIT
            def timed(): Double = {
              val t0 = System.nanoTime()
              fn(spark, sfDir).count()
              (System.nanoTime() - t0) / 1e9
            }
            var best = (1 to 2).map(_ => timed()).min
            // absolute slack: sub-100ms keys sit on a fixed JIT /
            // task-scheduling floor that trivially exceeds any ratio —
            // a regression must be BOTH >factor× and >0.3s absolute
            def over = best / base > factor && best - base >= 0.3
            // one retry before any verdict: a transient stall (GC,
            // page cache miss, a neighbor's tail) shouldn't mint a
            // FAIL; a real regression reproduces
            if (over) best = math.min(best, timed())
            val ratio = best / base
            val verdict =
              if (!over) "ok"
              else if (ambientLoad > GraftSession.cores) { warns ::= name; "WARN(ambient-load)" }
              else { fails ::= name; "FAIL" }
            println(f"[gate] $name%-28s base $base%7.3f s  best $best%7.3f s" +
              f"  ratio $ratio%5.2fx  $verdict")
          } catch { case e: Throwable =>
            fails ::= name
            println(s"[gate] $name ERROR: ${e.getMessage}")
          }
      }
    }
    spark.stop()
    if (skipped.nonEmpty)
      println(s"[gate] no baseline (new keys, not gated): ${skipped.sorted.mkString(", ")}")
    if (warns.nonEmpty)
      println(s"[gate] OVER THRESHOLD under ambient load $ambientLoad — rerun quiet: ${warns.sorted.mkString(", ")}")
    if (fails.nonEmpty) {
      println(s"GATE FAIL (> ${factor}x committed median): ${fails.sorted.mkString(", ")}")
      sys.exit(1)
    }
    val ok = keys.size - skipped.size - warns.size
    println(s"GATE OK: $ok keys within ${factor}x of the committed baseline" +
      (if (warns.nonEmpty) s"; ${warns.size} UNRESOLVED under load (not within)" else "") +
      (if (skipped.isEmpty) "" else s"; ${skipped.size} ungated"))
  }
}
