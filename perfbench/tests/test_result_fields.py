"""Pins the benchmark's result format. Run: python3 -m unittest discover perfbench/tests"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import diff  # noqa: E402
import run  # noqa: E402

STAMP = {"commit": "abc+dirty", "nproc": 4, "load1": 0.5, "steal_pct": 0.1, "seed": 7,
         "seconds": 5.0, "wall_s": 30.0, "plant": None, "spark_master": "local[4]",
         "driver_heap": "3g"}


def span(id_, name, trace, self_s, jobs, parent=0):
    s = {"id": id_, "name": name, "parent": parent, "trace": trace, "wall_s": self_s,
         "self_s": self_s, "jobs": jobs, "stages": jobs}
    s.update({c: 0.0 for c in diff.COUNTERS})
    return s


def jvm_report(trace):
    return {
        "workload": "em_nightly", "seed": 7, "seconds": 5.0, "trace": trace, "plant": None,
        "setup_s": [1.0, 0.5, 0.6], "untraced_ops_s": [20.0],
        "traced_ops_s": [25.0] if trace else [], "op_s": 20.0, "op_n": 1,
        "throughput": {"value": 0.05, "unit": "1/s"},
        "named": {}, "scalars": {},
        "per_layer": {"core.dag.overhead_s": {"value": 0.5, "unit": "s"}} if trace else {},
        "checks": [{"name": "em_nightly.public_disasters", "ok": True, "detail": "seed=7"}],
        "digests": {}, "attempted": 1, "failed": 0, "first_measured_trace": 4, "spans": [],
    }


class ResultFields(unittest.TestCase):
    def test_full_result_fields(self):
        full = run.summarize(jvm_report(False), STAMP)
        self.assertEqual(set(full), {"stamp", "workload", "trace", "end_to_end", "error_rate", "named",
                                     "scalars", "per_layer", "checks", "attempted", "failed"})
        self.assertEqual(set(full["stamp"]), set(STAMP))
        self.assertEqual(set(full["end_to_end"]), {n for n, _, _ in run.END_TO_END})
        for v in full["end_to_end"].values():
            self.assertTrue({"value", "unit", "n"} <= set(v))

    def test_last_line_untraced(self):
        line = run.last_line(run.summarize(jvm_report(False), STAMP))
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(set(line["metrics"]), {n for n, _, _ in run.END_TO_END})
        for v in line["metrics"].values():
            self.assertEqual(set(v), {"value", "unit"})
            self.assertGreater(v["value"], 0)

    def test_last_line_traced_has_every_layer(self):
        line = run.last_line(run.summarize(jvm_report(True), STAMP))
        self.assertEqual(set(line["metrics"]), {n for n, _, _ in run.PER_LAYER})

    def test_unknown_layer_metric_is_refused(self):
        r = jvm_report(True)
        r["per_layer"]["core.dag.typo_s"] = {"value": 1.0, "unit": "s"}
        with self.assertRaises(SystemExit):
            run.summarize(r, STAMP)

    def test_benchmark_json_matches_the_metric_lists(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
                         run.PER_LAYER)
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))

    def test_em_digests_cover_every_fixture_set(self):
        import record_digests
        with open(run.EM_DIGESTS) as f:
            expected = json.load(f)
        self.assertEqual(set(expected), {str(s) for s in range(record_digests.FIXTURE_SETS)})
        for digests in expected.values():
            self.assertEqual(len(digests), 12)
            self.assertTrue(all(int(d.split(":")[0]) > 0 for d in digests.values()))


class Diff(unittest.TestCase):
    def report(self, spans):
        return {"trace": True, "first_measured_trace": 1, "spans": spans}

    def test_same_plan_and_plan_changed(self):
        before = self.report([span(1, "core.dag.a", 1, 1.0, 3), span(2, "core.dag.b", 1, 1.0, 3)])
        after = self.report([span(1, "core.dag.a", 1, 2.0, 3), span(2, "core.dag.b", 1, 1.0, 4)])
        rows = {r["span"]: r for r in diff.compare(before, after)}
        self.assertTrue(rows["core.dag.a"]["verdict"].startswith("same plan, layer core.dag moved"))
        self.assertAlmostEqual(rows["core.dag.a"]["delta_self_s"], 1.0)
        self.assertTrue(rows["core.dag.b"]["verdict"].startswith("plan changed"))


if __name__ == "__main__":
    unittest.main()
