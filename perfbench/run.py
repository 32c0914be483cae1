#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine, one workload per run.

    python3 perfbench/run.py --workload bidask_ts --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1        # every workload

Run from the repository root. It builds the engine from source, drives the
workload's keys in one JVM over the sf0.01 reference tables copied into
perfbench/data (the seed shuffles the key order), checks every key's output
against DuckDB with tools/preflight.py and prints the metrics. The last stdout
line is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, and the run's spans are written under
.bench_build/perfbench/trace/.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

OUT = os.path.join(build.ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data", "sf0.01")
PREFLIGHT = os.path.join(build.ROOT, "tools", "preflight.py")
SETUPS = 3
DEADLINE_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

PEAKS = {"executor.peak_mem_b", "streaming.state_mem_b"}
END_TO_END = [("batch_s", "s"), ("query_p50_s", "s"), ("heap_after_gc_mb", "MB"), ("setup_s", "s")]
SPAN_KINDS = ["key", "construct", "execute", "microbatch", "job", "stage"]
PER_LAYER = [
    ("operators.construct_s", "s"), ("operators.construct_jobs", "count"),
    ("planner.analysis_s", "s"), ("planner.optimization_s", "s"), ("planner.planning_s", "s"),
    ("planner.codegen_compiles", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"), ("scheduler.tasks", "count"),
    ("scheduler.tasks_per_stage", "count"), ("scheduler.delay_s", "s"),
    ("scheduler.core_busy_ratio", "ratio"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.deserialize_s", "s"),
    ("executor.gc_s", "s"), ("executor.peak_mem_mb", "MB"), ("executor.spill_b", "B"),
    ("process.cpu_s", "s"), ("jvm.jit_s", "s"), ("jvm.gc_s", "s"),
    ("tables.scan_s", "s"), ("tables.scan_rows", "count"), ("tables.scan_bytes", "B"),
    ("shuffle.write_b", "B"), ("shuffle.write_s", "s"), ("shuffle.fetch_wait_s", "s"),
    ("shuffle.exchanges", "count"), ("shuffle.reused_exchange_ratio", "ratio"),
    ("sink.rows", "count"), ("sink.write_b", "B"), ("sink.write_s", "s"),
    ("indexstore.stage_s", "s"),
    ("streaming.batches", "count"), ("streaming.add_batch_s", "s"),
    ("streaming.query_planning_s", "s"), ("streaming.wal_commit_s", "s"),
    ("streaming.commit_offsets_s", "s"), ("streaming.state_commit_s", "s"),
    ("streaming.state_mem_b", "B"), ("streaming.batch_p50_ms", "ms"),
    ("streaming.batch_p90_ms", "ms"),
] + [(f"selftime.{k}_s", "s") for k in SPAN_KINDS] + [("trace.overhead_s", "s")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def harness(workload, seed, seconds, trace, deadline):
    spec = WORKLOADS[workload]
    work = os.path.join(OUT, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    raw = os.path.join(work, "raw.json")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", "-cp", build.classpath(), "perfbench.Harness",
            DATA, work, raw, ",".join(spec["keys"]), ",".join(spec["stage"]) or "-",
            str(seed), str(seconds), str(trace), str(SETUPS)]
    env = dict(os.environ, SPARK_GRAFT_INDEX_DIR=os.path.join(work, "index"))
    proc = subprocess.Popen(cmd, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("perfbench: harness ran past its deadline")
    if code != 0:
        sys.exit(f"perfbench: harness exited with {code}")
    with open(raw) as fh:
        return json.load(fh)


def check(dump, keys):
    """Output check: the repository's DuckDB pre-flight over the warm-up
    pass's results. Returns {key: None (match) or reason}; a key the
    pre-flight does not report (no oracle SQL) is a failure."""
    env = dict(os.environ, PREFLIGHT_CACHE_DIR=os.path.join(OUT, "oracle_cache"))
    r = subprocess.run([sys.executable, PREFLIGHT, DATA, dump, ",".join(keys)],
                       env=env, capture_output=True, text=True, timeout=120)
    out = {k: "not checked by tools/preflight.py" for k in keys}
    for line in r.stdout.splitlines():
        verdict, _, rest = line.partition(" ")
        if verdict == "PASS":
            out[rest.split()[0]] = None
        elif verdict == "FAIL":
            key, _, why = rest.partition(": ")
            out[key] = why
    return out


def latencies(passes):
    """Each key's latencies over the given passes."""
    by_key = {}
    for p in passes:
        for k in p["keys"]:
            by_key.setdefault(k["key"], []).append(k["latency_s"])
    return by_key


def end_to_end(raw):
    passes = [p for p in raw["passes"] if not p["traced"]]
    by_key = latencies(passes)
    return {
        "batch_s": stats.sum_of_medians(by_key),
        "query_p50_s": stats.percentile([x for xs in by_key.values() for x in xs], 0.5),
        "heap_after_gc_mb": statistics.median([p["heap_after_gc_mb"] for p in passes]),
        "setup_s": statistics.median(raw["setup_s"]),
    }


def key_spans(p, k):
    """The span tree of one key run, flattened: the key is the root, with
    construct and execute below it; jobs and micro-batches hang under
    whichever of those they started in, stages under their job."""
    root = f"{p}:{k['key']}"
    con, exe = (k["start_ms"], k["construct_end_ms"]), (k["construct_end_ms"], k["end_ms"])
    out = [{"id": root, "kind": "key", "parent": None, "start_ms": k["start_ms"],
            "end_ms": k["end_ms"]},
           {"id": root + "/construct", "kind": "construct", "parent": root,
            "start_ms": con[0], "end_ms": con[1]},
           {"id": root + "/execute", "kind": "execute", "parent": root,
            "start_ms": exe[0], "end_ms": exe[1]}]
    raw = k.get("spans", [])
    batches = [s for s in raw if s["kind"] == "microbatch"]
    for s in raw:
        s = dict(s)
        if s["kind"] == "stage":
            out.append(s)
            continue
        outer = None
        if s["kind"] == "job":
            outer = next((b["id"] for b in batches
                          if b["start_ms"] <= s["start_ms"] <= b["end_ms"]), None)
        if outer is None:
            outer = root + ("/construct" if s["start_ms"] < con[1] else "/execute")
        s["parent"] = outer
        out.append(s)
    return out


def self_times(spans):
    """Sum of self time, in seconds, per span kind."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = {}
    for s in spans:
        t = stats.self_time((s["start_ms"], s["end_ms"]), children.get(s["id"], []))
        out[s["kind"]] = out.get(s["kind"], 0.0) + t / 1000.0
    return out


def per_layer(raw):
    traced = [p for p in raw["passes"] if p["traced"]]
    plain = [p for p in raw["passes"] if not p["traced"]]
    rows, trigger, spans = [], [], []
    for p in traced:
        c, r, sp = {}, {}, []
        for k in p["keys"]:
            for name, v in k.get("counters", {}).items():
                if name in PEAKS:
                    c[name] = max(c.get(name, 0), v)
                else:
                    c[name] = c.get(name, 0) + v
            ks = key_spans(p["pass"], k)
            sp += ks
            r["operators.construct_s"] = r.get("operators.construct_s", 0) + k["construct_s"]
            r["operators.construct_jobs"] = r.get("operators.construct_jobs", 0) + sum(
                1 for s in ks if s["kind"] == "job" and s["start_ms"] < k["construct_end_ms"])
            trigger += [s["trigger_ms"] for s in ks if s["kind"] == "microbatch"]
        g = lambda n: c.get(n, 0)  # noqa: E731
        stages = g("scheduler.stages")
        shuffles = g("shuffle.exchanges") + g("shuffle.reused")
        r.update({
            "planner.analysis_s": g("planner.analysis_ms") / 1e3,
            "planner.optimization_s": g("planner.optimization_ms") / 1e3,
            "planner.planning_s": g("planner.planning_ms") / 1e3,
            "planner.codegen_compiles": g("planner.codegen_compiles"),
            "scheduler.jobs": g("scheduler.jobs"),
            "scheduler.stages": stages,
            "scheduler.tasks": g("scheduler.tasks"),
            "scheduler.tasks_per_stage": g("scheduler.tasks") / stages if stages else 0.0,
            "scheduler.delay_s": g("scheduler.delay_ms") / 1e3,
            "scheduler.core_busy_ratio": g("task.duration_ms") / 1e3 / (raw["cores"] * p["wall_s"]),
            "executor.run_s": g("executor.run_ms") / 1e3,
            "executor.cpu_s": g("executor.cpu_ns") / 1e9,
            "executor.deserialize_s": g("executor.deserialize_ms") / 1e3,
            "executor.gc_s": g("executor.gc_ms") / 1e3,
            "executor.peak_mem_mb": g("executor.peak_mem_b") / 1048576,
            "executor.spill_b": g("executor.spill_b"),
            "process.cpu_s": p["cpu_s"],
            "jvm.jit_s": p["jit_s"],
            "jvm.gc_s": p["jvm_gc_s"],
            "tables.scan_s": g("tables.scan_ms") / 1e3,
            "tables.scan_rows": g("tables.scan_rows"),
            "tables.scan_bytes": g("tables.scan_bytes"),
            "shuffle.write_b": g("shuffle.write_b"),
            "shuffle.write_s": g("shuffle.write_ns") / 1e9,
            "shuffle.fetch_wait_s": g("shuffle.fetch_wait_ms") / 1e3,
            "shuffle.exchanges": g("shuffle.exchanges"),
            "shuffle.reused_exchange_ratio": g("shuffle.reused") / shuffles if shuffles else 0.0,
            "sink.rows": g("sink.rows"),
            "sink.write_b": g("sink.write_b"),
            "sink.write_s": g("sink.write_ms") / 1e3,
            "streaming.batches": g("streaming.batches"),
            "streaming.add_batch_s": g("streaming.addBatch") / 1e3,
            "streaming.query_planning_s": g("streaming.queryPlanning") / 1e3,
            "streaming.wal_commit_s": g("streaming.walCommit") / 1e3,
            "streaming.commit_offsets_s": g("streaming.commitOffsets") / 1e3,
            "streaming.state_commit_s": g("streaming.state_commit_ms") / 1e3,
            "streaming.state_mem_b": g("streaming.state_mem_b"),
        })
        for kind, t in self_times(sp).items():
            r[f"selftime.{kind}_s"] = t
        rows.append(r)
        spans += sp
    out = {n: statistics.median([r.get(n, 0.0) for r in rows]) for n, _ in PER_LAYER}
    out["streaming.batch_p50_ms"] = stats.percentile(trigger, 0.5) if trigger else 0.0
    out["streaming.batch_p90_ms"] = stats.percentile(trigger, 0.9) if trigger else 0.0
    out["indexstore.stage_s"] = statistics.median(raw["stage_s"])
    out["trace.overhead_s"] = (stats.sum_of_medians(latencies(traced)) -
                               stats.sum_of_medians(latencies(plain)))
    return out, spans


def run(workload, seed, seconds, trace, deadline):
    t1 = time.time()
    raw = harness(workload, seed, seconds, trace, deadline)
    t2 = time.time()
    keys = WORKLOADS[workload]["keys"]
    verdicts = check(raw["dump"], keys)
    log(f"harness {t2 - t1:.1f} s (warm-up pass {raw['warmup_s']:.1f} s), "
        f"output check {time.time() - t2:.1f} s")
    bad = {k: v for k, v in verdicts.items() if v}
    for k, v in sorted(bad.items()):
        log(f"output check failed: {k}: {v}")
    failed = len(raw["failures"]) + len(bad)
    attempted = raw["attempted"]
    walls = [p["wall_s"] for p in raw["passes"] if not p["traced"]]
    n_lat = sum(len(p["keys"]) for p in raw["passes"] if not p["traced"])
    log(f"{workload}: seed {seed}, {len(raw['passes'])} timed passes, untraced pass walls "
        f"{[round(w, 2) for w in walls]} (spread {stats.spread(walls):.3f}), {n_lat} key runs "
        f"(highest percentile with ten beyond: {stats.tail_level(n_lat)}), "
        f"{len(raw['oracle_keys'])}/{len(keys)} keys with oracle SQL, artifacts staged: "
        f"{raw['artifacts']}")
    if trace:
        metrics, spans = per_layer(raw)
        path = os.path.join(OUT, "trace", f"{workload}-seed{seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"workload": workload, "seed": seed, "artifacts": raw["artifacts"],
                       "spans": spans}, fh)
        log(f"spans written to {os.path.relpath(path, build.ROOT)}")
        units = dict(PER_LAYER)
    else:
        metrics = end_to_end(raw)
        units = dict(END_TO_END)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    names = list(WORKLOADS) if a.workload == "all" else [a.workload]
    if any(n not in WORKLOADS for n in names):
        sys.exit(f"perfbench: unknown workload {a.workload}; one of {', '.join(WORKLOADS)}, all")
    build.build()
    start = time.time()
    results = {}
    for n in names:
        results[n] = run(n, a.seed, a.seconds, a.trace, start + DEADLINE_S * len(names))
        for m, v in results[n]["metrics"].items():
            print(f"{n} {m} {v['value']:.6g} {v['unit']}")
    if len(names) == 1:
        final = results[names[0]]
    else:
        final = {"correct": all(r["correct"] for r in results.values()),
                 "attempted": sum(r["attempted"] for r in results.values()),
                 "failed": sum(r["failed"] for r in results.values()),
                 "metrics": {f"{n}.{m}": v for n, r in results.items()
                             for m, v in r["metrics"].items()}}
    print(json.dumps(final))


if __name__ == "__main__":
    main()
