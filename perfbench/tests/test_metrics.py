"""Unit tests of the benchmark's own metric rules.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


class PercentileChoice(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond_it(self):
        self.assertEqual(metrics.tail(list(range(40)))[0], 75.0)
        self.assertEqual(metrics.tail(list(range(39)))[0], 50.0)
        self.assertEqual(metrics.tail(list(range(100)))[0], 90.0)
        self.assertEqual(metrics.tail(list(range(1000)))[0], 99.0)

    def test_tail_reports_value_and_sample_count(self):
        p, value, n = metrics.tail([float(x) for x in range(1, 41)])
        self.assertEqual((p, n), (75.0, 40))
        self.assertAlmostEqual(value, metrics.percentile(range(1, 41), 75.0))
        self.assertAlmostEqual(value, 30.25)

    def test_small_samples_fall_back_to_the_median(self):
        self.assertEqual(metrics.tail([5.0, 1.0, 3.0]), (50.0, 3.0, 3))


class DriverOnly(unittest.TestCase):
    def test_union_merges_overlapping_task_intervals(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(metrics.union_length([(20, 30), (0, 10), (10, 12)]), 22)

    def test_driver_only_is_span_minus_task_union(self):
        # Four tasks, two overlapping: tasks cover [10, 40] and [60, 70].
        tasks = [(10, 30), (20, 40), (25, 35), (60, 70)]
        self.assertEqual(metrics.uncovered(0, 100, tasks), 100 - 30 - 10)

    def test_tasks_outside_the_span_are_clipped(self):
        self.assertEqual(metrics.uncovered(50, 100, [(0, 60), (90, 200)]), 50 - 10 - 10)
        self.assertEqual(metrics.uncovered(0, 10, []), 10)

    def test_trace_driver_only_uses_the_span_tasks(self):
        rec = {"window_us": [0, 100], "spans": [], "jobs": [],
               "task_columns": ["launch_us", "finish_us"], "tasks": [[10, 20], [15, 30]]}
        tr = metrics.Trace(rec)
        span = {"id": 1, "name": "x", "parent": 0, "start_us": 0, "end_us": 100}
        self.assertAlmostEqual(tr.driver_only_s([span], tr.tasks), 80 / 1e6)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_children_and_jobs(self):
        rec = {"window_us": [0, 100], "task_columns": [], "tasks": [],
               "spans": [{"id": 1, "name": "pass", "parent": 0, "start_us": 0, "end_us": 100},
                         {"id": 2, "name": "op", "parent": 1, "start_us": 10, "end_us": 50},
                         {"id": 3, "name": "op", "parent": 1, "start_us": 40, "end_us": 60}],
               "jobs": [{"span": 2, "start_us": 20, "end_us": 45},
                        {"span": 1, "start_us": 70, "end_us": 80}]}
        tr = metrics.Trace(rec)
        self.assertAlmostEqual(tr.self_s(tr.spans[0]), (100 - 50 - 10) / 1e6)
        self.assertAlmostEqual(tr.self_s(tr.spans[1]), (40 - 25) / 1e6)
        self.assertAlmostEqual(tr.self_s(tr.spans[2]), 20 / 1e6)


class FailureAccounting(unittest.TestCase):
    def test_throwing_and_wrong_operations_both_count(self):
        record = {
            "op_names": ["ok", "throws", "wrong"],
            "passes": [{"ops": [{"name": "ok", "error": None},
                                {"name": "throws", "error": "RuntimeException: executor lost"},
                                {"name": "wrong", "error": None}]}],
            "checks": [{"op": "wrong", "ok": False, "detail": "4 expected, 5 returned"}],
        }
        ledger = metrics.account(record)
        self.assertEqual((ledger.attempted, ledger.failed), (3, 2))
        self.assertAlmostEqual(ledger.fail_frac, 2 / 3)
        self.assertIn("executor lost", ledger.failures[0])
        self.assertIn("wrong answer", ledger.failures[1])

    def test_operations_a_failure_skipped_still_count(self):
        ops = ["a", "b", "c"]
        record = {
            "op_names": ops,
            "passes": [
                {"ops": [{"name": "a", "error": None}, {"name": "b", "error": None},
                         {"name": "c", "error": None}]},
                # b threw, so c was never reached
                {"ops": [{"name": "a", "error": None}, {"name": "b", "error": "boom"}]},
            ],
            # a's answer is wrong: both of its attempts fail
            "checks": [{"op": "a", "ok": False, "detail": "L1 too large"},
                       {"op": "c", "ok": True, "detail": ""}],
        }
        ledger = metrics.account(record)
        self.assertEqual(ledger.attempted, 6)
        self.assertEqual(ledger.failed, 4)  # a twice, b once, unreached c once

    def test_crashed_check_fails_every_operation(self):
        record = {"op_names": ["a", "b"], "passes": [{"ops": [{"name": "a", "error": None},
                                                             {"name": "b", "error": None}]}],
                  "checks": [{"op": "*", "ok": False, "detail": "check crashed"}]}
        self.assertEqual(metrics.account(record).failed, 2)


class Fingerprint(unittest.TestCase):
    def test_a_changed_input_on_a_pinned_seed_is_not_correct(self):
        import json
        import run
        pins = json.load(open(os.path.join(os.path.dirname(run.__file__), "fingerprints.json")))
        want = pins["graph_ops"]["1"]
        self.assertEqual(run.fingerprint_ok({"workload": "graph_ops", "seed": 1, "fingerprint": want}),
                         (True, want))
        changed = dict(want, arcs=want["arcs"] + 1)
        self.assertFalse(run.fingerprint_ok({"workload": "graph_ops", "seed": 1, "fingerprint": changed})[0])
        self.assertTrue(run.fingerprint_ok({"workload": "graph_ops", "seed": 999, "fingerprint": {}})[0])


class Contract(unittest.TestCase):
    """The metric names a run prints match BENCHMARK.json exactly."""

    def record(self, workload):
        detail = {"crawl_rank": {"pr_steps_ms": [900, 300, 310]},
                  "graph_ops": {"cc_steps_ms": [800, 400], "lp_steps_ms": [500]},
                  "curation": {}}[workload]
        return {"workload": workload, "op_names": ["a"], "checks": [],
                "passes": [{"wall_s": 3.0, "detail": detail,
                            "ops": [{"name": "a", "wall_s": 3.0, "error": None}]}],
                "setup": {"jvm_s": 0.2, "session_s": 4.0, "input_s": [1.0, 0.5, 0.6]},
                "peak_storage_bytes": 1 << 20, "heap_peak_bytes": 1 << 30, "gc_ms": 10,
                "window_us": [0, 3000000], "spans": [], "jobs": [], "task_columns": [], "tasks": []}

    def test_a_failed_pass_still_yields_every_metric(self):
        rec = self.record("crawl_rank")
        rec["op_names"] = ["ingest.link_extract", "core.graph_build"]
        rec["passes"] = [{"wall_s": 1.0, "detail": {},
                          "ops": [{"name": "ingest.link_extract", "wall_s": 1.0, "error": "boom"}]}]
        ledger = metrics.account(rec)
        self.assertEqual((ledger.attempted, ledger.failed), (2, 2))
        self.assertEqual(metrics.end_to_end(rec, ledger)["ok_frac"][0], 0.0)
        self.assertIn("step.tail_ms", metrics.per_layer(rec))
        self.assertIn("ingest.link_extract.s", metrics.layer_detail(rec))

    def test_names_match_the_contract(self):
        import json
        root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        path = os.path.join(root, "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("BENCHMARK.json not present")
        bench = json.load(open(path))
        for w in bench["workloads"]:
            rec = self.record(w["name"])
            ledger = metrics.account(rec)
            e2e = metrics.end_to_end(rec, ledger)
            layer = metrics.per_layer(rec)
            self.assertEqual([m["name"] for m in bench["end_to_end"]], list(e2e))
            self.assertEqual([m["name"] for m in bench["per_layer"]], list(layer))
            for m in bench["end_to_end"] + bench["per_layer"]:
                got = (e2e.get(m["name"]) or layer[m["name"]])[1]
                self.assertEqual(m["unit"], got, m["name"])


if __name__ == "__main__":
    unittest.main()
