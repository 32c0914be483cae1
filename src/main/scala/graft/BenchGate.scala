package graft

/** In-tree wall-time regression gate (r10 verdict #6): the
  * shuffle-budget ledger pins every key's PLAN shape, but nothing
  * pinned its RATE — a regression surfaced only at the next driver
  * bench. This main runs [[Bench.time]], the same timing loop as
  * `graft.Bench` (staging warm-up, 3 rotated timed passes, tail
  * re-run), and judges each key's best against the COMMITTED per-key
  * medians in [[Bench.BaselinePath]] with [[BenchAmbient.gate]]. It
  * writes no file; it prints one `[gate]` line per key, then
  * `GATE OK` or `GATE FAIL`, and exits 1 on a FAIL.
  *
  * Opt-in by construction (a main, never part of `sbt test`):
  *
  *   sbt "runMain graft.BenchGate [key1,key2,...]"   # default: all
  *
  * Refreshing the baseline after a DELIBERATE perf change: run the
  * full Bench, then copy bench_last.json's `medians` into
  * tools/bench_baseline.json (tools/distill_baseline.py does this)
  * and commit it with the change that moved the numbers. */
object BenchGate {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // keySubset rejects a typo'd key, which would gate zero keys
    val only = args.headOption.map(SparkEntry.keySubset(_).toSet)
    val baseline = BenchAmbient.readBaseline(Bench.BaselinePath)
    require(baseline.nonEmpty, s"empty or missing baseline at ${Bench.BaselinePath}")
    val spark = GraftSession.local(GraftSession.cores)
    val t = Bench.time(spark, sfDir, only, baseline)
    spark.stop()
    val verdicts = t.keys.map { name =>
      val best = if (t.failed.contains(name)) None else t.best(name)
      val base = baseline.get(name)
      val v = BenchAmbient.gate(best, base, t.loadStart, GraftSession.cores)
      val detail = (best, base) match {
        case (None, None) => "no baseline  threw"
        case (_, None) => "no baseline"
        case (None, Some(bl)) => f"base $bl%7.3f s  threw"
        case (Some(b), Some(bl)) => f"base $bl%7.3f s  best $b%7.3f s  ratio ${b / bl}%5.2fx"
      }
      println(f"[gate] $name%-28s $detail  ${v.label}")
      v -> name
    }
    val named = verdicts.groupMap(_._1)(_._2).withDefaultValue(Seq.empty)
    import BenchAmbient.{GateFactor, GateFail, GateOk, GateWarn, Ungated}
    val (fails, warns, ungated) = (named(GateFail), named(GateWarn), named(Ungated))
    if (warns.nonEmpty)
      println(s"[gate] OVER THRESHOLD under ambient load ${t.loadStart} — rerun quiet: ${warns.mkString(", ")}")
    if (fails.nonEmpty) {
      println(s"GATE FAIL (> ${GateFactor}x committed median): ${fails.mkString(", ")}")
      sys.exit(1)
    }
    println(s"GATE OK: ${named(GateOk).size} keys within ${GateFactor}x of the committed baseline" +
      (if (warns.nonEmpty) s"; ${warns.size} UNRESOLVED under load (not within)" else "") +
      (if (ungated.isEmpty) "" else s"; ${ungated.size} ungated"))
  }
}
