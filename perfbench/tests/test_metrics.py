"""Tests of the benchmark's own arithmetic and of BENCHMARK.json.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import math
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import metrics  # noqa: E402
import run  # noqa: E402

INF = metrics.INF
# the syntax BENCHMARK.json requires of metric and workload names and units
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def op(name, phase, pss, start, total, ok=True, build=0.1):
    return {"kind": "op", "name": name, "phase": phase, "pass": pss,
            "start": start, "build_s": build, "total_s": total, "ok": ok}


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        vals = list(range(1, 21))
        self.assertEqual(metrics.percentile(vals, 0.95), 19)
        self.assertEqual(metrics.percentile(vals, 0.5), 10)
        self.assertEqual(metrics.percentile([3.0], 0.95), 3.0)

    def test_failure_pushes_percentiles_up(self):
        vals = [1.0] * 19 + [2.0]
        self.assertEqual(metrics.percentile(vals, 0.95), 1.0)
        self.assertEqual(metrics.percentile(vals + [INF], 0.95), 2.0)
        self.assertEqual(metrics.percentile([1.0, INF], 0.95), INF)
        self.assertEqual(metrics.median([1.0, 2.0, INF]), 2.0)
        self.assertEqual(metrics.median([1.0, INF]), INF)

    def test_failed_op_makes_totals_unbounded(self):
        recs = [op("a", "cold", 0, 0, 1.0), op("b", "cold", 0, 2000, 1.0, ok=False),
                op("a", "warm", 1, 4000, 0.5), op("b", "warm", 1, 5000, 0.2),
                op("a", "warm", 2, 6000, 0.4), op("b", "warm", 2, 7000, 0.3, ok=False)]
        e2e = metrics.end_to_end(recs, [5.0], 1024)
        self.assertEqual(e2e["cold_s"], INF)
        self.assertEqual(e2e["warm_s"], INF)
        self.assertEqual(e2e["op_p95_s"], INF)

    def test_warm_is_per_op_median(self):
        recs = [op("a", "cold", 0, 0, 2.0), op("b", "cold", 0, 3000, 1.0),
                op("a", "warm", 1, 4000, 0.5), op("b", "warm", 1, 5000, 0.2),
                op("a", "warm", 2, 6000, 0.7), op("b", "warm", 2, 7000, 0.4),
                op("a", "warm", 3, 8000, 0.6), op("b", "warm", 3, 9000, 0.3)]
        e2e = metrics.end_to_end(recs, [5.0, 4.0, 6.0], 2048)
        self.assertEqual(e2e["setup_s"], 5.0)
        self.assertAlmostEqual(e2e["cold_s"], 3.0)
        self.assertAlmostEqual(e2e["warm_s"], 0.9)
        self.assertAlmostEqual(e2e["op_p50_s"], 0.45)
        self.assertAlmostEqual(e2e["op_p95_s"], 0.6)
        self.assertEqual(e2e["peak_rss_mb"], 2.0)

    def test_unrepeated_ops_are_each_an_op(self):
        recs = [op("f0", "cold", 0, 0, 3.0)] + [
            op(f"f{i}", "warm", i, 1000 * i, 0.1 * i) for i in range(1, 11)]
        e2e = metrics.end_to_end(recs, [1.0], 1024, repeated=False)
        self.assertAlmostEqual(e2e["warm_s"], 5.5)
        self.assertAlmostEqual(e2e["op_p50_s"], 0.55)
        self.assertAlmostEqual(e2e["op_p95_s"], 1.0)


class Spans(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(metrics.union_length([(0, 1), (1, 2)]), 2)

    def test_self_time(self):
        span = {"start": 0, "end": 100}
        kids = [{"start": 10, "end": 30}, {"start": 20, "end": 50},
                {"start": 90, "end": 120}]
        self.assertEqual(metrics.self_time(span, kids), 100 - 40 - 10)
        self.assertEqual(metrics.self_time(span, []), 100)

    def test_tree_nests_by_execution_id_and_time(self):
        recs = [op("q", "cold", 0, 1000.0, 1.0, build=0.2),
                {"kind": "plan", "func": "save", "start": 1210, "end": 1250,
                 "analysis_ms": 10, "optimization_ms": 20, "planning_ms": 10,
                 "broadcasts": 0, "broadcast_ms": 0},
                {"kind": "sql", "id": 7, "root": 7, "start": 1260, "end": 1900},
                {"kind": "job", "id": 3, "exec": 7, "start": 1300, "end": 1500,
                 "stages": 1, "sources": False},
                {"kind": "job", "id": 4, "exec": -1, "start": 1050, "end": 1150,
                 "stages": 1, "sources": False},
                {"kind": "stage", "id": 9, "job": 3, "start": 1310, "end": 1490}]
        spans = {s["id"]: s for s in metrics.span_tree(recs)}
        self.assertEqual(spans["sql7"]["parent"], "op0.action")
        self.assertEqual(spans["job3"]["parent"], "sql7")
        self.assertEqual(spans["job4"]["parent"], "op0.build")
        self.assertEqual(spans["stage9"]["parent"], "job3")
        self.assertEqual(spans["plan0"]["parent"], "op0.action")
        self.assertEqual(spans["op0"]["self_ms"], 0)
        self.assertEqual(spans["job3"]["self_ms"], 200 - 180)
        self.assertEqual(spans["op0.build"]["self_ms"], 200 - 100)
        self.assertEqual(spans["op0.action"]["self_ms"], 800 - 40 - 640)

    def test_layer_metrics_split_cold_and_warm(self):
        recs = [{"kind": "setup", "end_ms": 0, "session_s": 1.5, "warmup_s": 0.5},
                op("q", "cold", 0, 1000.0, 1.0, build=0.2),
                op("q", "warm", 1, 3000.0, 0.5), op("q", "warm", 2, 4000.0, 0.3),
                {"kind": "job", "id": 1, "exec": -1, "start": 1100, "end": 1300,
                 "stages": 1, "sources": True},
                {"kind": "job", "id": 2, "exec": -1, "start": 1400, "end": 1900,
                 "stages": 1, "sources": False},
                {"kind": "job", "id": 3, "exec": -1, "start": 3200, "end": 3400,
                 "stages": 1, "sources": False},
                {"kind": "stage", "id": 1, "job": 2, "start": 1400, "end": 1900,
                 "tasks": 4, "run_ms": 1600, "cpu_ns": 1e9, "gc_ms": 100,
                 "shuffle_write": 10, "shuffle_read": 10, "spill_disk": 0,
                 "input": 5, "output": 0, "straggler_ms": 50}]
        m = metrics.layer_metrics(recs, cores=4)
        self.assertEqual(m["setup.session_s"], 1.5)
        self.assertEqual(m["sched.jobs.cold"], 2)
        self.assertEqual(m["build.jobs.cold"], 1)
        self.assertEqual(m["sources.jobs.cold"], 1)
        self.assertAlmostEqual(m["sched.outside_jobs_s.cold"], 0.3)
        self.assertAlmostEqual(m["exec.busy_share.cold"], 1.6 / 4.0)
        self.assertAlmostEqual(m["exec.straggler_s.cold"], 0.05)
        self.assertEqual(m["sched.jobs.warm"], 0.5)
        self.assertAlmostEqual(m["sched.outside_jobs_s.warm"], (0.3 + 0.3) / 2)
        names = {n for n, _ in metrics.per_layer_names()}
        self.assertEqual(set(m) | {"trace.overhead_share"}, names)


class BenchmarkJson(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_metric_names_and_units(self):
        declared = self.bench["end_to_end"] + self.bench["per_layer"]
        names = [m["name"] for m in declared]
        self.assertEqual(len(names), len(set(names)))
        for m in declared:
            self.assertRegex(m["name"], NAME_RE)
            self.assertRegex(m["unit"], UNIT_RE)
        for m in self.bench["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
            self.assertEqual(m["better"], "lower")
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]],
                         metrics.per_layer_names())

    def test_every_workload_reports_every_end_to_end_metric(self):
        names = [w["name"] for w in self.bench["workloads"]]
        for w in names:
            self.assertRegex(w, NAME_RE)
            self.assertIn(w, run.WORKLOADS)
        for repeated in (True, False):
            recs = [op("a", "cold", 0, 0, 1.0), op("a", "warm", 1, 2000, 0.5)]
            e2e = metrics.end_to_end(recs, [2.0], 4096, repeated)
            self.assertEqual(list(e2e), [n for n, _ in metrics.END_TO_END])
            self.assertTrue(all(math.isfinite(v) and v > 0 for v in e2e.values()))


if __name__ == "__main__":
    unittest.main()
