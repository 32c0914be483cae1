package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the ambient-load adjudication thresholds (r11 verdict #1) the
  * bench artifact now self-annotates with. The values encode the two
  * observed regimes: the r11 contaminated driver window started at
  * loadavg 3.66 on 32 allocated cores (must flag), while every quiet
  * close-bench window started well under 1.0 (must not flag). */
class BenchAmbientSpec extends AnyFunSuite {

  test("contaminated: r11 driver window flags, sbt self-load doesn't") {
    assert(BenchAmbient.contaminated(3.66, 32)) // the r11 artifact
    assert(!BenchAmbient.contaminated(0.4, 32)) // quiet close window
    // sbt compile + JVM startup leave ~1.5-1.8 on the 1-min average by
    // the time Bench.main samples it — the bench's own launch, not a
    // co-runner (measured r12: load 0.10 a minute before launch,
    // load_start 1.78 at main)
    assert(!BenchAmbient.contaminated(1.78, 32))
    assert(!BenchAmbient.contaminated(2.56, 32)) // boundary: > not >=
    assert(BenchAmbient.contaminated(2.7, 32)) // over 8% of 32 cores
  }

  test("contaminated: threshold floors at 2.5 for small core counts") {
    // 4 cores: 8% = 0.32 sits inside the self-load band — floor wins
    assert(!BenchAmbient.contaminated(2.4, 4))
    assert(BenchAmbient.contaminated(2.6, 4))
  }

  test("contaminated: unreadable loadavg (-1) never invents contamination") {
    assert(!BenchAmbient.contaminated(-1.0, 32))
  }

  test("midrunDivergence: committed-artifact bands adjudicate correctly") {
    // quiet full run (BENCH_r10): median/best 1.072 — must not flag
    assert(!BenchAmbient.midrunDivergence(131.185, 140.68))
    // the r12 driver artifact's mid-run-noise signature: 162.5 vs
    // 194.5 (ratio 1.197) — must flag
    assert(BenchAmbient.midrunDivergence(162.494, 194.541))
    // the r12 close extreme (idle start, dirty middle): 149 vs 250
    assert(BenchAmbient.midrunDivergence(149.0, 250.0))
    // boundary: > not >=
    assert(!BenchAmbient.midrunDivergence(100.0, 115.0))
    assert(BenchAmbient.midrunDivergence(100.0, 115.1))
  }

  test("midrunDivergence: degenerate totals never flag") {
    // tiny subset runs (sub-second sums) are all scheduling noise
    assert(!BenchAmbient.midrunDivergence(0.4, 0.9))
    assert(!BenchAmbient.midrunDivergence(0.0, 0.0))
    assert(!BenchAmbient.midrunDivergence(10.0, 0.0))
  }

  test("tailKeys: needs BOTH >1.3x ratio and >0.15s absolute") {
    val baseline = Map("big" -> 2.0, "small" -> 0.05, "fine" -> 1.0)
    val best = Map(
      "big" -> 3.0, // 1.5x and +1.0s → re-run
      "small" -> 0.12, // 2.4x but only +0.07s → scheduling floor, skip
      "fine" -> 1.1) // 1.1x → skip
    assert(BenchAmbient.tailKeys(best, baseline) == Seq("big"))
  }

  test("tailKeys: keys without a committed baseline are not re-runnable") {
    val best = Map("new_key" -> 9.0)
    assert(BenchAmbient.tailKeys(best, Map("other" -> 1.0)).isEmpty)
  }

  test("tailKeys: output is sorted for a stable artifact") {
    val baseline = Map("b" -> 1.0, "a" -> 1.0, "c" -> 1.0)
    val best = Map("c" -> 2.0, "a" -> 2.0, "b" -> 2.0)
    assert(BenchAmbient.tailKeys(best, baseline) == Seq("a", "b", "c"))
  }

  import BenchAmbient.{gate, GateFail, GateOk, GateWarn, Ungated}

  test("gate: FAIL needs BOTH >3x ratio and >=0.3s absolute") {
    // 3.5x but only +0.2s: the scheduling floor, not a regression
    assert(gate(Some(0.28), Some(0.08), 0.5, 32) == GateOk)
    // 2.9x at +2s: a big absolute gap is not enough on its own
    val base = 2.0 / 1.9
    assert(gate(Some(base * 2.9), Some(base), 0.5, 32) == GateOk)
    assert(gate(Some(4.0), Some(1.0), 0.5, 32) == GateFail)
    // boundary: the slack is >= (exactly +0.3s fails), the ratio is >
    assert(0.425 - 0.125 == 0.3) // both exact in binary: a true boundary
    assert(gate(Some(0.425), Some(0.125), 0.5, 32) == GateFail) // 3.4x, +0.3s
    assert(gate(Some(0.42), Some(0.125), 0.5, 32) == GateOk) // 3.36x, +0.295s
    assert(gate(Some(3.0), Some(1.0), 0.5, 32) == GateOk) // exactly 3x
  }

  test("gate: over threshold WARNs when the start load exceeds the cores") {
    assert(gate(Some(4.0), Some(1.0), 32.5, 32) == GateWarn)
    assert(gate(Some(4.0), Some(1.0), 32.0, 32) == GateFail) // equal: not above
    assert(gate(Some(1.0), Some(1.0), 64.0, 32) == GateOk) // load alone is no verdict
  }

  test("gate: a key with no baseline entry is ungated, a key that threw fails") {
    assert(gate(Some(9.0), None, 0.5, 32) == Ungated)
    assert(gate(None, None, 0.5, 32) == GateFail) // threw, no baseline: still fails
    assert(gate(None, Some(1.0), 0.5, 32) == GateFail)
    assert(gate(None, Some(1.0), 64.0, 32) == GateFail) // no load excuse
  }

  test("gate: every key the gate would fail is re-run at the tail first") {
    // the gate's one retry IS Bench's tail re-run: over 3x / 0.3s must
    // imply over tailKeys's 1.3x / 0.15s, or a FAIL would skip it
    val grid = for {
      base <- Seq(0.0, 0.001, 0.01, 0.05, 0.1, 0.15, 0.3, 1.0, 2.5, 10.0, 100.0)
      best <- (0 to 400).map(_ * 0.0125) ++ Seq(base * 3.0, base * 3.0 + 0.3, 1000.0)
    } yield (best, base)
    val failing = grid.filter { case (b, base) =>
      gate(Some(b), Some(base), 0.0, 32) == GateFail }
    assert(failing.size > 100)
    failing.foreach { case (b, base) =>
      assert(BenchAmbient.tailKeys(Map("k" -> b), Map("k" -> base)) == Seq("k"),
        s"gate fails best $b over base $base, but the tail would not re-run it")
    }
  }

  test("rateVsBaseline: intersecting keys only, sum-over-sum") {
    val baseline = Map("a" -> 1.0, "b" -> 3.0, "gone" -> 100.0)
    val best = Map("a" -> 1.5, "b" -> 4.5, "new" -> 100.0)
    // (1.5+4.5)/(1.0+3.0) = 1.5 — 'gone' and 'new' excluded
    assert(BenchAmbient.rateVsBaseline(best, baseline).contains(1.5))
  }

  test("rateVsBaseline: empty intersection or zero denominator -> None") {
    assert(BenchAmbient.rateVsBaseline(Map("a" -> 1.0), Map("b" -> 1.0)).isEmpty)
    assert(BenchAmbient.rateVsBaseline(Map.empty, Map("b" -> 1.0)).isEmpty)
    assert(BenchAmbient.rateVsBaseline(Map("a" -> 1.0), Map("a" -> 0.0)).isEmpty)
  }

  test("readBaseline: parses the committed flat map; missing file -> empty") {
    val m = BenchAmbient.readBaseline("tools/bench_baseline.json")
    assert(m.size > 200, s"committed baseline unexpectedly small: ${m.size}")
    assert(m.values.forall(_ > 0.0))
    assert(BenchAmbient.readBaseline("/nonexistent/x.json").isEmpty)
  }
}
