#!/usr/bin/env python3
"""Refresh the committed Bench/BenchGate baseline from a Bench run:
copies bench_last.json's per-key `medians` into
tools/bench_baseline.json, merged over the keys already there (a
`runMain graft.Bench <keys>` subset run refreshes only those keys).
Run after a DELIBERATE perf change and commit the result together
with the change that moved the numbers.

Usage: distill_baseline.py [bench_last.json] [tools/bench_baseline.json]
"""
import json, sys

src = sys.argv[1] if len(sys.argv) > 1 else "bench_last.json"
dst = sys.argv[2] if len(sys.argv) > 2 else "tools/bench_baseline.json"
d = json.load(open(src))
good = {k: v for k, v in (d.get("medians") or {}).items() if v is not None}
assert good, f"no medians in {src}"
# refuse to silently SHRINK gate coverage: a key-subset bench run
# (Bench's [keys] argument) produces a medians map with only those keys,
# and overwriting the baseline with it would leave every other key
# permanently ungated. Merge instead: subset runs refresh their keys,
# full runs refresh everything; keys can only be REMOVED by editing
# the baseline by hand.
try:
    prev = json.load(open(dst))
except (FileNotFoundError, json.JSONDecodeError):
    prev = {}
merged = {**prev, **good}
json.dump(dict(sorted(merged.items())), open(dst, "w"), indent=0)
print(f"{dst}: {len(merged)} keys ({len(good)} refreshed from {src}, "
      f"sf={d.get('sf')})")

# CPU medians (ms) land in a SIBLING file, not nested in the wall
# baseline: Bench's dependency-free flat parser would collide nested
# keys with the wall entries. Same merge rule as above.
cpu = {k: v for k, v in (d.get("cpu_medians") or {}).items() if v is not None}
if cpu:
    dst_cpu = dst.replace(".json", "_cpu.json")
    try:
        prev_cpu = json.load(open(dst_cpu))
    except (FileNotFoundError, json.JSONDecodeError):
        prev_cpu = {}
    merged_cpu = {**prev_cpu, **cpu}
    json.dump(dict(sorted(merged_cpu.items())), open(dst_cpu, "w"), indent=0)
    print(f"{dst_cpu}: {len(merged_cpu)} keys ({len(cpu)} refreshed)")
