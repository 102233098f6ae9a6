"""Tests of the benchmark's own arithmetic and output schema.

    python3 -m unittest discover -s benchmark/tests
"""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import report  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_enough_samples_gives_the_nearest_rank(self):
        xs = list(range(1, 201))  # 200 samples: p90 rank 180 has 20 beyond it
        self.assertEqual(stats.percentile(xs, 0.9), 180)

    def test_exactly_ten_beyond_is_allowed(self):
        xs = list(range(1, 101))  # p90 = 90, with 10 samples above it
        self.assertEqual(stats.percentile(xs, 0.9), 90)

    def test_too_few_samples_falls_back_to_highest_supported_rank(self):
        xs = list(range(1, 41))  # 40 samples: the 30th leaves 10 beyond
        self.assertEqual(stats.percentile(xs, 0.9), 30)
        beyond = [x for x in xs if x > stats.percentile(xs, 0.9)]
        self.assertEqual(len(beyond), stats.MIN_BEYOND)

    def test_never_below_the_median(self):
        xs = list(range(1, 13))
        self.assertEqual(stats.percentile(xs, 0.9), stats.median(xs))
        self.assertEqual(stats.percentile([5.0], 0.9), 5.0)
        for n in range(1, 60):
            xs = [float(i % 7) for i in range(n)]
            self.assertGreaterEqual(stats.percentile(xs, 0.9), stats.median(xs))

    def test_order_does_not_matter(self):
        xs = [3.0, 1.0, 2.0] * 20
        self.assertEqual(stats.percentile(xs, 0.9), stats.percentile(sorted(xs), 0.9))

    def test_p50_is_the_median(self):
        self.assertEqual(stats.percentile([4, 1, 3, 2], 0.5), 2.5)
        self.assertEqual(stats.median([3, 1, 2]), 2)


def span(i, parent, start, end, name="x", op=0):
    return {"id": i, "parent": parent, "name": name, "op": op,
            "start_ns": int(start * 1e9), "end_ns": int(end * 1e9)}


class SelfTime(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertAlmostEqual(stats.self_times([span(0, -1, 1, 3)])[0], 2.0)

    def test_children_are_subtracted(self):
        t = stats.self_times([span(0, -1, 0, 10), span(1, 0, 1, 3), span(2, 0, 5, 9)])
        self.assertAlmostEqual(t[0], 4.0)
        self.assertAlmostEqual(t[1], 2.0)
        self.assertAlmostEqual(t[2], 4.0)

    def test_overlapping_children_count_once(self):
        t = stats.self_times([span(0, -1, 0, 10), span(1, 0, 1, 5), span(2, 0, 3, 6)])
        self.assertAlmostEqual(t[0], 5.0)

    def test_grandchildren_only_reduce_their_parent(self):
        t = stats.self_times([span(0, -1, 0, 10), span(1, 0, 2, 8), span(2, 1, 3, 4)])
        self.assertAlmostEqual(t[0], 4.0)
        self.assertAlmostEqual(t[1], 5.0)
        self.assertAlmostEqual(t[2], 1.0)

    def test_child_outside_parent_is_clipped(self):
        t = stats.self_times([span(0, -1, 0, 4), span(1, 0, 3, 6)])
        self.assertAlmostEqual(t[0], 3.0)

    def test_self_times_sum_to_root_duration(self):
        spans = [span(0, -1, 0, 10), span(1, 0, 0, 4), span(2, 1, 1, 2), span(3, 0, 6, 7)]
        self.assertAlmostEqual(sum(stats.self_times(spans).values()), 10.0)


def fake_result(trace):
    ops, spans, layers = [], [], []
    sid = 0
    for i, (phase, name, fam, kind) in enumerate([
            ("cold", "q01_x", "q", "query"), ("warm", "q01_x", "q", "query"),
            ("warm", "commitUpsert", "s", "write"), ("warm", "read", "s", "read"),
            ("traced", "q01_x", "q", "query"), ("traced", "commitUpsert", "s", "write"),
            ("traced", "readPoint", "s", "read")]):
        o = {"id": i, "name": name, "family": fam, "kind": kind, "pass": i, "phase": phase,
             "latency_s": 0.5 + i / 10, "rows": 1000 if name == "commitUpsert" else 7,
             "error": None, "leaked": name == "q01_x" and phase == "traced"}
        if phase == "traced":
            o.update(gc_count=1, gc_ms=3)
            if kind == "write":
                o.update(files_written=4, meta_files_written=6, bytes_written=1000)
            if name == "readPoint":
                o.update(point_files_read=1, point_files_total=4)
            spans.append(span(sid, -1, i, i + 1, "op", i))
            spans.append(span(sid + 1, sid, i, i + 0.25, "queries.build", i))
            spans.append(span(sid + 2, sid, i + 0.25, i + 0.5, "catalyst.plan", i))
            spans.append(span(sid + 3, sid, i + 0.5, i + 0.9, "exec.run", i))
            sid += 4
            layers.append({"op": i, "jobs": 2, "eager_jobs": 1, "stages": 3, "tasks": 8,
                           "task_run_ms": 400, "task_cpu_ns": 3e8, "peak_mem": 1048576,
                           "input_bytes": 10, "shuffle_write": 5, "shuffle_read": 5,
                           "fetch_wait_ms": 1, "spill_bytes": 0, "sched_wait_ms": 2,
                           "task_gc_ms": 1})
        ops.append(o)
    return {
        "cores": 4, "setup_s": [3.0, 0.2, 0.25], "cold_pass_s": 1.5,
        "traced_s": 3.0,
        "heap_live_mb": 300.0,
        "storage_end": {"persistent_rdds": 1, "cached_plans": 2, "pinned_mb": 0.5},
        "ops": ops, "checks": [{"name": "store.final_state", "error": None}],
        "oracle": {"q01_x": "SELECT 1"},
        "extras": {"table_bytes": 300, "fresh_bytes": 100, "versions_live": 3},
        "layers": layers, "spans": spans if trace else [],
    }


class OutputSchema(unittest.TestCase):
    doc = metrics.load()

    def test_every_metric_has_a_unit(self):
        entries = self.doc["end_to_end"] + self.doc["per_layer"]
        names = [m["name"] for m in entries]
        self.assertEqual(len(names), len(set(names)))
        for m in entries:
            self.assertRegex(m["name"], r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
            self.assertRegex(m["unit"], r"^[A-Za-z0-9_/%.-]{1,16}$")
            self.assertIn(m["better"], ("higher", "lower"))

    def test_setup_is_an_end_to_end_metric(self):
        e2e = {m["name"]: m for m in self.doc["end_to_end"]}
        self.assertEqual((e2e["setup_s"]["unit"], e2e["setup_s"]["better"]), ("s", "lower"))
        bounds = [m["bound"] for m in e2e.values()]
        self.assertEqual(max(bounds), e2e["setup_s"]["bound"])
        self.assertTrue(all(0 < x <= 0.25 for x in bounds))

    def _check_result(self, out, trace):
        self.assertEqual(set(out) - {"problems"}, {"correct", "attempted", "failed", "metrics"})
        want = metrics.catalogue(self.doc, trace)
        self.assertEqual(list(out["metrics"]), [n for n, _ in want])
        for (n, unit), v in zip(want, out["metrics"].values()):
            self.assertEqual(set(v), {"value", "unit"})
            self.assertEqual(v["unit"], unit)
            self.assertIsInstance(v["value"], float)
        json.dumps(out)

    def test_untraced_result_carries_every_end_to_end_metric(self):
        out = report.summarize(fake_result(False), {"q01_x": (7, None)}, 0, False, self.doc)
        self._check_result(out, False)
        self.assertTrue(out["correct"])
        self.assertEqual(out["failed"], 0)
        self.assertEqual(out["metrics"]["ok_frac"]["value"], 1.0)
        self.assertEqual(out["metrics"]["setup_s"]["value"], 0.25)
        # one pass of three operations taking 0.6, 0.7 and 0.8 s
        self.assertAlmostEqual(out["metrics"]["ops_per_s"]["value"], 3 / 2.1)

    def test_traced_result_carries_every_per_layer_metric(self):
        out = report.summarize(fake_result(True), {"q01_x": (7, None)}, 123, True, self.doc)
        self._check_result(out, True)
        m = {n: v["value"] for n, v in out["metrics"].items()}
        self.assertAlmostEqual(m["self.op_s"], 0.1)
        self.assertAlmostEqual(m["exec.run_s"], 0.4)
        self.assertEqual(m["storage.leaking_ops"], 1)
        self.assertEqual(m["store.space_amp"], 3.0)
        self.assertEqual(m["store.point_skip_ratio"], 0.75)
        self.assertEqual(m["tmp.bytes_left"], 123)

    def test_wrong_results_are_counted(self):
        res = fake_result(False)
        res["ops"][1]["rows"] = 8
        res["checks"][0]["error"] = "3 rows, model has 4"
        out = report.summarize(res, {"q01_x": (7, None)}, 0, False, self.doc)
        self.assertFalse(out["correct"])
        self.assertEqual(out["failed"], 2)
        self.assertLess(out["metrics"]["ok_frac"]["value"], 1.0)


if __name__ == "__main__":
    unittest.main()
