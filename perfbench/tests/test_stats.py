"""Unit tests for perfbench/stats.py, the span self-time roll-up, and the
agreement of BENCHMARK.json with what run.py reports.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


class SpreadAndPassTime(unittest.TestCase):
    def test_spread_is_iqr_over_median(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertEqual(q2, statistics.median(xs))
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / q2)
        self.assertEqual(stats.spread([2.0, 2.0, 2.0]), 0.0)

    def test_pass_time_is_sum_of_per_key_medians(self):
        self.assertAlmostEqual(stats.sum_of_medians({"a": [1.0, 3.0, 2.0], "b": [4.0, 5.0]}),
                               2.0 + 4.5)

    def test_one_disturbed_key_run_does_not_move_pass_time(self):
        calm = {"a": [1.0, 1.1, 1.0], "b": [2.0, 2.0, 2.1]}
        disturbed = {"a": [1.0, 9.0, 1.0], "b": [2.0, 2.0, 2.1]}
        self.assertEqual(stats.sum_of_medians(calm), stats.sum_of_medians(disturbed))

    def test_latencies_pool_each_key_over_passes(self):
        passes = [{"keys": [{"key": "a", "latency_s": 1.0}, {"key": "b", "latency_s": 2.0}]},
                  {"keys": [{"key": "b", "latency_s": 3.0}, {"key": "a", "latency_s": 4.0}]}]
        self.assertEqual(run.latencies(passes), {"a": [1.0, 4.0], "b": [2.0, 3.0]})


class PooledPercentile(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = list(range(11))  # 0..10
        self.assertEqual(stats.percentile(xs, 0.5), 5)
        self.assertEqual(stats.percentile(xs, 0.9), 9)
        self.assertAlmostEqual(stats.percentile([1.0, 2.0], 0.25), 1.25)

    def test_extremes(self):
        xs = [3.0, 1.0, 2.0]
        self.assertEqual(stats.percentile(xs, 0.0), 1.0)
        self.assertEqual(stats.percentile(xs, 1.0), 3.0)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)

    def test_tail_level_needs_ten_samples_beyond(self):
        self.assertEqual(stats.beyond(100, 0.9), 10)
        self.assertEqual(stats.beyond(99, 0.9), 9)
        self.assertEqual(stats.tail_level(1000), 0.99)
        self.assertEqual(stats.tail_level(200), 0.95)
        self.assertEqual(stats.tail_level(100), 0.9)
        self.assertEqual(stats.tail_level(99), 0.75)
        self.assertEqual(stats.tail_level(20), 0.5)
        self.assertIsNone(stats.tail_level(19))

    def test_tail_percentile_has_ten_samples_beyond(self):
        xs = [float(i) for i in range(100)]
        level = stats.tail_level(len(xs))
        p = stats.percentile(xs, level)
        self.assertGreaterEqual(sum(1 for x in xs if x > p), 10)


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time((0, 10), []), 10)

    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 4), (3, 6)]), 5)

    def test_children_are_clipped_to_parent(self):
        self.assertEqual(stats.self_time((0, 10), [(-5, 2), (8, 20), (30, 40)]), 6)

    def test_nested_children(self):
        self.assertEqual(stats.self_time((0, 10), [(2, 8), (3, 4)]), 4)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 1), (1, 2), (5, 6)]), 3)
        self.assertEqual(stats.union_length([]), 0)


class SpanRollUp(unittest.TestCase):
    def key_run(self):
        return {"key": "k", "start_ms": 0.0, "construct_end_ms": 40.0, "end_ms": 100.0,
                "construct_s": 0.04,
                "spans": [
                    {"kind": "microbatch", "id": "b0", "parent": "1:k", "start_ms": 5,
                     "end_ms": 25, "trigger_ms": 20},
                    {"kind": "job", "id": "job1", "parent": "1:k", "start_ms": 10,
                     "end_ms": 20},
                    {"kind": "job", "id": "job2", "parent": "1:k", "start_ms": 50,
                     "end_ms": 90},
                    {"kind": "stage", "id": "stage3.0", "parent": "job2", "start_ms": 55,
                     "end_ms": 85}]}

    def test_jobs_hang_under_the_span_they_started_in(self):
        spans = {s["id"]: s for s in run.key_spans(1, self.key_run())}
        self.assertEqual(spans["job1"]["parent"], "b0")
        self.assertEqual(spans["b0"]["parent"], "1:k/construct")
        self.assertEqual(spans["job2"]["parent"], "1:k/execute")
        self.assertEqual(spans["stage3.0"]["parent"], "job2")

    def test_self_time_per_kind(self):
        t = run.self_times(run.key_spans(1, self.key_run()))
        self.assertAlmostEqual(t["key"], 0.0)
        self.assertAlmostEqual(t["construct"], 0.020)
        self.assertAlmostEqual(t["microbatch"], 0.010)
        self.assertAlmostEqual(t["execute"], 0.020)
        self.assertAlmostEqual(t["job"], 0.010 + 0.010)
        self.assertAlmostEqual(t["stage"], 0.030)


class BenchmarkFile(unittest.TestCase):
    def setUp(self):
        path = os.path.join(run.build.ROOT, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json beside the benchmark")
        with open(path) as fh:
            self.spec = json.load(fh)

    def test_metrics_match_what_run_reports(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["per_layer"]], run.PER_LAYER)

    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]], list(WORKLOADS))

    def test_setup_has_the_largest_bound(self):
        bounds = {m["name"]: m["bound"] for m in self.spec["end_to_end"]}
        self.assertEqual(bounds["setup_s"], max(bounds.values()))


if __name__ == "__main__":
    unittest.main()
