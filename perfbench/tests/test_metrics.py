"""Self-tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


def span(i, parent, name, start, end, group=None):
    return {"id": i, "parent": parent, "name": name, "start": start,
            "end": end, "group": group}


def query(name, ok=True, wall=1.0):
    return {"name": name, "ok": ok, "error": None if ok else "boom",
            "wall_s": wall, "builder_s": 0.1, "exec_s": 0.8,
            "complete": False, "window": None}


# a traced query's counter window: three jobs, nothing else
WINDOW = dict({k: 0 for k in (
    "builder_jobs", "stages", "tasks", "failed_tasks", "task_wait_ms",
    "run_ms", "cpu_ns", "gc_ms", "deser_ms", "shuffle_write_b",
    "shuffle_read_b", "fetch_wait_ms", "spill_b", "input_b", "output_b",
    "plan_ms", "executions", "batches", "startup_ms", "add_batch_ms",
    "wal_ms", "stream_plan_ms", "latest_offset_ms", "state_commit_ms")},
    jobs=3, batch_ms=[])


class TailPercentile(unittest.TestCase):
    def test_ten_samples_beyond(self):
        for n in (11, 12, 14, 20, 37, 100, 1000):
            p = metrics.tail_percentile(n)
            self.assertGreaterEqual(n - math.ceil(p * n / 100.0), 10, n)
            if p < 99:
                self.assertLess(n - math.ceil((p + 1) * n / 100.0), 10, n)

    def test_known_values(self):
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(12), 16)
        self.assertIsNone(metrics.tail_percentile(10))

    def test_percentile_is_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile([5.0], 16), 5.0)

    def test_workloads_fix_the_rule_at_their_minimum_samples(self):
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(here, "workloads.json")) as f:
            wls = json.load(f)["workloads"]
        for name, wl in wls.items():
            n = wl["min_warm_sweeps"] * len(wl["queries"])
            self.assertEqual(wl["tail_percentile"], metrics.tail_percentile(n), name)


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [
            span(0, -1, "query", 0, 100, 1),
            span(1, 0, "builder", 0, 40),
            span(2, 0, "execute", 40, 95),
            # overlapping jobs count once; the part outside the parent
            # does not count
            span(3, 1, "job", 10, 20),
            span(4, 1, "job", 15, 30),
            span(5, 1, "job", 35, 50),
            span(6, 2, "job", 50, 60),
            # jobs inside another job add nothing
            span(7, 2, "job", 52, 55),
            span(8, 2, "job", 58, 59),
        ]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 5)
        self.assertAlmostEqual(st[1], 40 - 20 - 5)
        self.assertAlmostEqual(st[2], 55 - 10)
        self.assertAlmostEqual(st[3], 10)
        self.assertEqual(metrics.span_roots(spans)[5], 1)

    def test_totals_per_traced_sweep(self):
        raw = {"sweeps": [{"index": 0, "queries": []},
                          {"index": 1, "queries": []},
                          {"index": 2, "queries": []}],
               "spans": [span(0, -1, "query", 0, 10, 1),
                         span(1, 0, "builder", 0, 4),
                         span(2, -1, "query", 0, 30, 2),
                         # the cold sweep's spans do not count
                         span(3, -1, "query", 0, 1000, 0),
                         span(4, -1, "silver.pairs", 0, 2000, "setup")]}
        t = metrics.self_time_totals(raw)
        self.assertAlmostEqual(t["query"], (6 + 30) / 2 / 1e3)
        self.assertAlmostEqual(t["builder"], 4 / 2 / 1e3)
        self.assertAlmostEqual(t["setup.silver.pairs"], 2.0)


class TraceOverhead(unittest.TestCase):
    def test_overhead_is_against_the_untraced_run(self):
        def rec(walls):
            return {"builds": [], "spans": [], "sweeps": [
                {"index": i, "wall_s": w, "queries": [dict(
                    query("a", wall=w), builder_s=w / 4, exec_s=w / 2,
                    window=dict(WINDOW) if i else None)]}
                for i, w in enumerate(walls)]}
        traced = rec([9.0, 2.2, 2.0, 2.4])
        untraced = rec([9.0, 1.0, 3.0, 2.0])
        m = metrics.per_layer(traced, untraced)
        # median traced warm sweep 2.2 over median untraced 2.0
        self.assertAlmostEqual(m["trace.overhead"], 0.1)
        self.assertAlmostEqual(m["trace.coverage"], 0.75)
        self.assertAlmostEqual(m["queries.builder_s"], 0.55)
        self.assertEqual(m["scheduler.jobs"], 3)
        self.assertEqual(m["silver.jobs"], 0)


class FailedFraction(unittest.TestCase):
    def test_throwing_and_wrong_result_queries_count(self):
        raw = {"builds": [{"name": "pairs", "ok": True}],
               "sweeps": [{"index": 0,
                           "queries": [query("a"), query("boom", ok=False), query("wrong")]},
                          {"index": 1,
                           "queries": [query("wrong"), query("boom", ok=False), query("a")]}],
               "check": [{"name": "a", "ok": True, "rows": 3, "hash": "7"},
                         {"name": "boom", "ok": False, "error": "boom"},
                         {"name": "wrong", "ok": True, "rows": 3, "hash": "8"}]}
        ref = {q: {"rows": 3, "hash": "7"} for q in ("a", "boom", "wrong")}
        verdict = metrics.check_outputs(raw["check"], ref, set())
        self.assertIsNone(verdict["a"])
        self.assertIn("threw", verdict["boom"])
        self.assertIn("fingerprint", verdict["wrong"])
        # 1 build + 6 timed executions + 3 checks; 2 throws + 2 checks
        self.assertEqual(metrics.operations(raw, verdict), (10, 4))

    def test_rows_only_checks_non_empty(self):
        check = [{"name": "r", "ok": True, "rows": 0, "hash": "0"},
                 {"name": "s", "ok": True, "rows": 5, "hash": "9"}]
        ref = {"r": {"rows": 4, "hash": "1"}, "s": {"rows": 4, "hash": "1"}}
        v = metrics.check_outputs(check, ref, {"r", "s"})
        self.assertEqual(v, {"r": "empty result", "s": None})


class SeedOrder(unittest.TestCase):
    def test_seed_permutes_but_keeps_the_set(self):
        qs = ["q%d" % i for i in range(12)]
        a = metrics.sweep_orders(qs, 1, 5)
        b = metrics.sweep_orders(qs, 2, 5)
        self.assertEqual(a, metrics.sweep_orders(qs, 1, 5))
        self.assertNotEqual(a, b)
        for order in a + b:
            self.assertEqual(sorted(order), sorted(qs))
        self.assertGreater(len({tuple(o) for o in a}), 1)


if __name__ == "__main__":
    unittest.main()
