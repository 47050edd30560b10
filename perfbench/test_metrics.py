"""Unit tests of the benchmark's own arithmetic.

Run: python3 perfbench/test_metrics.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402
from checks import index_matches  # noqa: E402


def span(id_, parent, t0, t1, name="s"):
    return {"id": id_, "parent": parent, "name": name, "t0": t0, "t1": t1, "fs_written": 0,
            "fs_write_ops": 0, "compiles": 0, "gc_ms": 0}


def task(job, t0, t1):
    return {"job": job, "t0": t0, "t1": t1, "shuffle_write": 0, "spill": 0, "input": 0,
            "output": 0}


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 99.9), 100)
        self.assertEqual(metrics.percentile([7], 50), 7)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(list(range(19))))
        self.assertEqual(metrics.tail_percentile(list(range(20)))[0], 50)
        self.assertEqual(metrics.tail_percentile(list(range(39)))[0], 50)
        self.assertEqual(metrics.tail_percentile(list(range(40)))[0], 75)
        self.assertEqual(metrics.tail_percentile(list(range(100)))[0], 90)
        self.assertEqual(metrics.tail_percentile(list(range(1000)))[0], 99)
        self.assertEqual(metrics.tail_percentile(list(range(10000)))[0], 99.9)

    def test_tail_reports_value_and_count(self):
        p, v, n = metrics.tail_percentile([float(x) for x in range(1, 41)])
        self.assertEqual((p, v, n), (75, 30.0, 40))


class IntervalUnion(unittest.TestCase):
    def test_disjoint_overlapping_nested(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 1), (2, 4)]), 3)
        self.assertEqual(metrics.union_length([(0, 3), (2, 5)]), 5)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(metrics.union_length([(5, 6), (0, 1), (0.5, 2)]), 3)

    def test_touching_and_empty_intervals(self):
        self.assertEqual(metrics.union_length([(0, 1), (1, 2)]), 2)
        self.assertEqual(metrics.union_length([(3, 3), (4, 2)]), 0)

    def test_clip(self):
        self.assertEqual(metrics.clip([(0, 5), (8, 12), (20, 30)], 2, 10), [(2, 5), (8, 10)])


class SelfTimeAndDeadAir(unittest.TestCase):
    def record(self):
        spans = [span(0, -1, 0, 100, "op.cycle"), span(1, 0, 10, 40, "a"),
                 span(2, 0, 40, 70, "b"), span(3, 2, 50, 60, "c")]
        jobs = [{"job": 1, "span": 1}, {"job": 2, "span": 3}, {"job": 3, "span": 0}]
        tasks = [task(1, 12, 20), task(1, 15, 25), task(2, 50, 55), task(3, 90, 110)]
        return {"spans": spans, "jobs": jobs, "tasks": tasks, "loop_t0": 0, "loop_t1": 120}

    def test_self_time_subtracts_union_of_children(self):
        by = {s["id"]: s for s in metrics.span_stats(self.record())}
        self.assertEqual(by[0]["self_ms"], 100 - 60)  # children cover [10, 70]
        self.assertEqual(by[2]["self_ms"], 30 - 10)
        self.assertEqual(by[3]["self_ms"], 10)

    def test_child_outside_parent_is_clipped(self):
        self.assertEqual(metrics.self_time(span(0, -1, 0, 10), [span(1, 0, 5, 20)]), 5)

    def test_jobs_and_task_ms_are_the_span_own(self):
        by = {s["id"]: s for s in metrics.span_stats(self.record())}
        self.assertEqual((by[1]["jobs"], by[1]["task_ms"]), (1, 18))
        self.assertEqual((by[2]["jobs"], by[2]["task_ms"]), (0, 0))
        self.assertEqual((by[3]["jobs"], by[3]["task_ms"]), (1, 5))

    def test_dead_air_is_wall_minus_subtree_task_union(self):
        by = {s["id"]: s for s in metrics.span_stats(self.record())}
        self.assertEqual(by[1]["dead_air_ms"], 30 - 13)   # tasks cover [12, 25]
        self.assertEqual(by[2]["dead_air_ms"], 30 - 5)    # child c's task [50, 55]
        # the root's own task runs past its end: only [90, 100] counts
        self.assertEqual(by[0]["dead_air_ms"], 100 - (13 + 5 + 10))

    def test_self_times_plus_gap_equal_wall(self):
        rec = self.record()
        self.assertAlmostEqual(metrics.attribution_gap(rec, metrics.span_stats(rec)), 0.0)
        values = metrics.per_layer(rec, metrics.span_stats(rec),
                                   ["workload.unattributed_ms", "a.self_ms", "missing.jobs"])
        self.assertEqual(values, {"workload.unattributed_ms": 20, "a.self_ms": 30,
                                  "missing.jobs": 0.0})


class EndToEnd(unittest.TestCase):
    def op(self, kind, t0, t1, written=0, ok=True):
        return {"kind": kind, "t0": t0, "t1": t1, "cpu_ms": 2 * (t1 - t0), "fs_written": written,
                "ok": ok}

    def test_window_ops_only(self):
        op = self.op
        ops = [op("cycle", 0, 900, 50),                    # warm-up, before the window
               op("cycle", 1000, 3000, 100), op("read", 1500, 1600),
               op("cycle", 3000, 4000, 100), op("cycle", 4000, 8000, 100),
               op("cycle", 8000, 8100, ok=False)]
        rec = {"ops": ops, "loop_t0": 1000, "loop_t1": 8100, "setup_s": 12.5,
               "delivered_bytes": 150, "store_bytes": 2 * metrics.MB,
               "heap_after_gc": [[500, 900.0], [1200, 300.0], [2500, 350.0], [3500, 200.0],
                                 [5000, 250.0]]}
        e2e = metrics.end_to_end(rec)
        self.assertEqual((e2e["flow_s"], e2e["flow_cpu_s"]), (2.0, 4.0))
        self.assertEqual(e2e["read_ms_p50"], 100)
        self.assertEqual(e2e["write_amp"], 2.0)
        self.assertEqual((e2e["setup_s"], e2e["store_mb"]), (12.5, 2.0))
        # per-pass peaks 350, 200, 250; the warm-up's 900 is outside the window
        self.assertEqual(e2e["peak_live_heap_mb"], 250.0)
        self.assertEqual(set(e2e), set(metrics.UNITS))

    def test_no_collection_gives_no_heap_reading(self):
        rec = {"ops": [self.op("cycle", 0, 10)], "loop_t0": 0, "loop_t1": 10, "setup_s": 1.0,
               "delivered_bytes": 1, "store_bytes": 0, "heap_after_gc": []}
        self.assertIsNone(metrics.end_to_end(rec)["peak_live_heap_mb"])


class IndexComparison(unittest.TestCase):
    def test_tolerance_and_exact_composition(self):
        want = {"2020-01-01": (100.0, ["A", "B"])}
        self.assertTrue(index_matches(want, {"2020-01-01": (100.0 + 1e-8, ["A", "B"])}))
        self.assertFalse(index_matches(want, {"2020-01-01": (100.001, ["A", "B"])}))
        self.assertFalse(index_matches(want, {"2020-01-01": (100.0, ["B", "A"])}))
        self.assertFalse(index_matches(want, {}))


if __name__ == "__main__":
    unittest.main()
