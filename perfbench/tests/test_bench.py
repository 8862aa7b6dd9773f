"""Tests of the benchmark's pure helpers and its BENCHMARK.json contract.

    python3 -m unittest discover -s perfbench/tests -p test_bench.py -v
"""

import json
import os
import re
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import metrics as M  # noqa: E402
import reduce as R  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        for n, label in [(20, "p50"), (39, "p50"), (40, "p75"), (100, "p90"),
                         (200, "p95"), (1000, "p99"), (10000, "p99.9")]:
            got, _, count, beyond = M.tail(list(range(n)))
            self.assertEqual(got, label, n)
            self.assertEqual(count, n)
            self.assertGreaterEqual(beyond, M.MIN_BEYOND)

    def test_value_is_nearest_rank(self):
        xs = [float(i) for i in range(1, 101)]  # 1..100
        label, v, _, beyond = M.tail(xs)
        self.assertEqual((label, v, beyond), ("p90", 90.0, 10))

    def test_too_few_samples_fall_back_to_median(self):
        label, v, n, beyond = M.tail([3.0, 1.0, 2.0])
        self.assertEqual((label, v, n), ("p50", 2.0, 3))
        self.assertLess(beyond, M.MIN_BEYOND)


class SelfTime(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end}

    def test_children_are_subtracted_once(self):
        spans = [self.span(0, -1, 0.0, 10.0),
                 self.span(1, 0, 1.0, 4.0),
                 self.span(2, 0, 3.0, 6.0),   # overlaps child 1
                 self.span(3, 1, 1.5, 2.0)]   # grandchild: not the root's
        st = M.self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - 5.0)
        self.assertAlmostEqual(st[1], 3.0 - 0.5)
        self.assertAlmostEqual(st[2], 3.0)
        self.assertAlmostEqual(st[3], 0.5)

    def test_self_times_sum_to_root_wall(self):
        spans = [self.span(0, -1, 0.0, 8.0), self.span(1, 0, 0.5, 2.0),
                 self.span(2, 0, 2.0, 7.0), self.span(3, 2, 2.5, 3.0)]
        self.assertAlmostEqual(sum(M.self_times(spans).values()), 8.0)

    def test_union_length(self):
        self.assertAlmostEqual(M.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertEqual(M.union_length([]), 0.0)


class Spread(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [1.0, 2.0, 3.0, 4.0, 10.0]
        med, q1, q3, rel = M.spread(xs)
        self.assertEqual(med, 3.0)
        self.assertAlmostEqual(rel, (q3 - q1) / 3.0)


class Contract(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.b = json.load(fh)
        with open(os.path.join(BENCH, "layers.json")) as fh:
            cls.layers = json.load(fh)

    def test_keys_and_names(self):
        b = self.b
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        names = ([w["name"] for w in b["workloads"]] +
                 [m["name"] for m in b["end_to_end"] + b["per_layer"]])
        for n in names:
            self.assertRegex(n, NAME)
        self.assertEqual(len(names), len(set(names)))
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)

    def test_metrics_match_what_the_benchmark_reports(self):
        b = self.b
        self.assertTrue({w["name"] for w in b["workloads"]} <= set(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, R.E2E)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, R.LAYER)
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in b["end_to_end"]))
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)

    def test_every_layer_metric_names_what_it_should_move(self):
        workloads = {w["name"] for w in self.b["workloads"]}
        self.assertEqual(set(self.layers), {m["name"] for m in self.b["per_layer"]})
        for name, spec in self.layers.items():
            self.assertTrue(spec["module"], name)
            self.assertTrue(spec["moves"], name)
            for mv in spec["moves"]:
                self.assertIn(mv["workload"], workloads, name)
                self.assertIn(mv["metric"], R.NAMED[mv["workload"]], name)

    def test_every_workload_covers_the_contract_metrics(self):
        for w in (x["name"] for x in self.b["workloads"]):
            self.assertIn("setup_s", R.NAMED[w])
            self.assertIn(R.PRIMARY[w][1], R.NAMED[w])


def synthetic_raw(workload, trace):
    """A small raw record of the shape the JVM writes."""
    kind = R.PRIMARY[workload][0]
    ops = [{"id": i, "kind": kind, "cls": "a" if i % 2 else "b",
            "s": 1.0 + i, "cpu_s": 2.0 + i, "ok": True, "error": ""} for i in range(4)]
    if workload == "curate_stream":
        ops.append({"id": 4, "kind": "reconcile", "cls": "reconcile", "s": 0.5,
                    "cpu_s": 0.5, "ok": True, "error": ""})
    spans = []
    if trace:
        spans = [
            {"id": 0, "parent": -1, "op": 0, "name": "op." + kind, "start": 0.0,
             "end": 1.0, "gc_s": 0.1, "jobs": 2, "tasks": 8, "executor_run_s": 2.0,
             "shuffle_write_mb": 0.0, "spill_mb": 0.0, "input_mb": 4.0,
             "planning_ms": 5.0, "store_scan_mb": 0.0, "job_intervals": [[0.2, 0.5], [0.4, 0.7]]},
            {"id": 1, "parent": 0, "op": 0, "name": "exec.build", "start": 0.1,
             "end": 0.8, "gc_s": 0.0, "jobs": 0, "tasks": 0, "executor_run_s": 0.0,
             "shuffle_write_mb": 0.0, "spill_mb": 0.0, "input_mb": 0.0,
             "planning_ms": 0.0, "store_scan_mb": 0.0, "job_intervals": []}]
    return {"workload": workload, "seed": 1, "cores": 4, "gen_s": 1.0,
            "session_s": 2.0, "setup_reps_s": [1.0, 3.0, 2.0], "warmup_s": 4.0,
            "timed_wall_s": 10.0, "items": 4.0, "ops": ops, "checks": [],
            "values": {"approx_rel_err": [0.01], "ci_covered": [1.0],
                       "dup_recall": [1.0], "docs": 100.0,
                       "state_bytes_per_input_byte": [0.1], "recall_at_5": [1.0]},
            "layer": {}, "spans": spans, "tracer_s": 0.01}


class Reduce(unittest.TestCase):
    def test_untraced_run_reports_the_contract_and_the_named_metrics(self):
        for w in run.WORKLOADS:
            result, detail = R.reduce(synthetic_raw(w, False), trace=False)
            self.assertEqual(set(result["metrics"]), set(R.E2E), w)
            self.assertEqual(result["metrics"]["setup_s"]["value"], 2.0 + 2.0 + 4.0)
            self.assertEqual(result["metrics"]["op_cpu_s"]["value"], 3.5)
            self.assertEqual(detail["metrics"][R.PRIMARY[w][1]]["value"], 3.5)
            self.assertEqual(set(detail["metrics"]), set(R.NAMED[w]) | {"gen_s"}, w)
            self.assertTrue(result["correct"])

    def test_traced_run_reports_every_layer_metric(self):
        result, detail = R.reduce(synthetic_raw("aqp_mixed", True), trace=True)
        m = result["metrics"]
        self.assertEqual(set(m), set(R.LAYER))
        self.assertEqual(m["spark.jobs"]["value"], 2)
        # wall 1.0 minus the 0.5 s its two overlapping jobs cover
        self.assertAlmostEqual(m["spark.driver_s"]["value"], 0.5)
        self.assertAlmostEqual(m["exec.build_s"]["value"], 0.7)
        self.assertAlmostEqual(detail["tracing"]["unattributed_share"]["value"], 0.3)
        self.assertAlmostEqual(detail["tracing"]["overhead_share"]["value"], 0.01)

    def test_batch_input_is_the_store_read_under_each_curate_span(self):
        raw = synthetic_raw("curate_stream", True)
        zero = {k: 0.0 for k in R.COUNTERS}

        def span(i, parent, op, name, store_mb):
            return dict(zero, id=i, parent=parent, op=op, name=name, start=0.1,
                        end=0.2, gc_s=0.0, store_scan_mb=store_mb, job_intervals=[])
        raw["spans"] += [span(2, 0, 0, "streaming.curate", 0.1),
                         span(3, 2, 0, "exec.inner", 0.3),
                         span(4, -1, 1, "op.batch", 9.0),  # outside the curate span
                         span(5, 4, 1, "streaming.curate", 0.2)]
        result, _ = R.reduce(raw, trace=True)
        self.assertAlmostEqual(result["metrics"]["streaming.batch_input_mb"]["value"], 0.3)

    def test_a_failed_op_makes_the_run_incorrect(self):
        raw = synthetic_raw("ann_index", False)
        raw["ops"][1]["ok"] = False
        result, _ = R.reduce(raw, trace=False)
        self.assertEqual((result["correct"], result["attempted"], result["failed"]),
                         (False, 4, 1))


if __name__ == "__main__":
    unittest.main()
