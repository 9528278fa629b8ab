"""Self-tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import math
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import metrics  # noqa: E402


def span(id_, parent, start, end, name="s", op=1):
    return {"id": id_, "parent": parent, "op": op, "name": name,
            "start": start, "end": end}


class TailPercentile(unittest.TestCase):
    def test_ten_beyond(self):
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(1000), 99)
        self.assertEqual(metrics.tail_percentile(11), 9)

    def test_too_few_ops(self):
        self.assertIsNone(metrics.tail_percentile(10))
        self.assertIsNone(metrics.tail_percentile(3))

    def test_rank_has_ten_beyond(self):
        for n in (11, 20, 37, 100, 250):
            p = metrics.tail_percentile(n)
            xs = list(range(n))
            v = metrics.nearest_rank(xs, p)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10)
            if p < 99:
                w = metrics.nearest_rank(xs, p + 1)
                self.assertLess(sum(1 for x in xs if x > w), 10)

    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(metrics.nearest_rank(xs, 50), 3)
        self.assertEqual(metrics.nearest_rank(xs, 90), 5)
        self.assertEqual(metrics.nearest_rank(xs, 1), 1)


class DriverGap(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        jobs = [(1, 4), (2, 6), (8, 9)]
        self.assertAlmostEqual(metrics.union_length(jobs), 6)
        self.assertAlmostEqual(metrics.driver_gap(0, 10, jobs), 4)

    def test_never_negative(self):
        # two concurrent jobs over the whole op: a plain sum of job
        # times would give 10 - 20 = -10
        self.assertEqual(metrics.driver_gap(0, 10, [(0, 10), (0, 10)]), 0)
        # jobs reaching outside the op are clipped to it
        self.assertEqual(metrics.driver_gap(2, 5, [(0, 7)]), 0)

    def test_no_jobs(self):
        self.assertEqual(metrics.driver_gap(3, 8, []), 5)


class SelfTime(unittest.TestCase):
    def test_nested_spans_sum_to_wall(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 1, 4), span(3, 2, 2, 3),
                 span(4, 1, 5, 9)]
        st = metrics.self_times(spans)
        self.assertEqual(st, {1: 3, 2: 2, 3: 1, 4: 4})
        self.assertAlmostEqual(sum(st.values()), 10)

    def test_overlapping_children_counted_once(self):
        st = metrics.self_times([span(1, 0, 0, 10), span(2, 1, 1, 4),
                                 span(3, 1, 3, 7)])
        self.assertEqual(st[1], 4)

    def test_child_outside_parent_is_clipped(self):
        st = metrics.self_times([span(1, 0, 0, 5), span(2, 1, 4, 8)])
        self.assertEqual(st[1], 4)


class Ratios(unittest.TestCase):
    def test_space_amp(self):
        self.assertEqual(metrics.space_amp(300, 100), 3)
        self.assertTrue(math.isnan(metrics.space_amp(300, 0)))

    def test_f1(self):
        self.assertAlmostEqual(metrics.f1(8, 2, 2), 0.8)
        self.assertAlmostEqual(metrics.f1(1, 0, 0), 1.0)
        self.assertAlmostEqual(metrics.f1(0, 3, 4), 0.0)
        self.assertTrue(math.isnan(metrics.f1(0, 0, 0)))

    def test_recall_at_10(self):
        self.assertAlmostEqual(metrics.recall(7, 10), 0.7)
        ops = [{"quality": {"hits": 10, "total": 10}},
               {"quality": {"hits": 4, "total": 10}}]
        self.assertAlmostEqual(metrics.quality("ann_serve", ops), 0.7)

    def test_f1_pools_ops(self):
        ops = [{"quality": {"tp": 3, "fp": 1, "fn": 0}},
               {"quality": {"tp": 5, "fp": 1, "fn": 2}}]
        self.assertAlmostEqual(metrics.quality("sig_etl", ops), 16 / 20)


def raw_run(trace=False):
    ops = [
        {"id": 1, "wall_s": 2.0, "gc_s": 0.1, "records": 100, "ok": True,
         "quality": {"tp": 9, "fp": 1, "fn": 1},
         "counters": {"sources.StageSink.bytes": 1000.0,
                      "operators.FuzzyMatch.pairs": 50.0,
                      "operators.FuzzyMatch.matched": 5.0}},
        {"id": 2, "wall_s": 4.0, "gc_s": 0.3, "records": 300, "ok": True,
         "quality": {"tp": 9, "fp": 1, "fn": 1},
         "counters": {"sources.StageSink.bytes": 3000.0,
                      "operators.FuzzyMatch.pairs": 150.0,
                      "operators.FuzzyMatch.matched": 15.0}},
    ]
    raw = {"workload": "sig_etl", "cpus": 4, "session_s": 2.0,
           "setup_rounds_s": [9.0, 3.0, 4.0], "warmup_s": 1.5,
           "warmup_failed": 0, "ops": ops, "input_bytes": 1000,
           "disk_bytes": 4000, "heap_mb": 100.0}
    if trace:
        raw["spans"] = [
            span(1, 0, 0.0, 2000.0, "op", op=1),
            span(2, 1, 100.0, 900.0, "operators.FuzzyMatch.link", op=1),
            span(3, 0, 3000.0, 7000.0, "op", op=2),
            span(4, 3, 3500.0, 5500.0, "operators.FuzzyMatch.link", op=2),
        ]
        raw["jobs"] = [
            {"group": "pb-2", "start": 100.0, "end": 800.0, "stages": 2,
             "tasks": 8, "failed_tasks": 0, "task_ms": 2000.0, "sched_ms": 10.0,
             "result_bytes": 0, "shuffle_bytes": 0, "spill_bytes": 0},
            {"group": "", "start": 1000.0, "end": 1500.0, "stages": 1,
             "tasks": 4, "failed_tasks": 0, "task_ms": 1000.0, "sched_ms": 10.0,
             "result_bytes": 0, "shuffle_bytes": 0, "spill_bytes": 0},
            # overlapping pair inside op 2
            {"group": "pb-4", "start": 3500.0, "end": 5500.0, "stages": 1,
             "tasks": 4, "failed_tasks": 0, "task_ms": 4000.0, "sched_ms": 0.0,
             "result_bytes": 0, "shuffle_bytes": 0, "spill_bytes": 0},
            {"group": "pb-4", "start": 3600.0, "end": 5400.0, "stages": 1,
             "tasks": 4, "failed_tasks": 0, "task_ms": 4000.0, "sched_ms": 0.0,
             "result_bytes": 0, "shuffle_bytes": 0, "spill_bytes": 0},
        ]
        raw["queries"] = [{"start": 150.0, "phases": {"analysis": 2.0,
                                                      "optimization": 6.0,
                                                      "planning": 4.0},
                           "duration_ms": 600.0, "paths": [], "nodes": []}]
        raw["progress"] = []
        raw["micro"] = {"functions.FuzzyImpl.wRatio_ns": 900.0}
    return raw


class EndToEnd(unittest.TestCase):
    def test_metrics(self):
        m = metrics.end_to_end(raw_run(), 90)
        self.assertAlmostEqual(m["setup_s"], 2.0 + 4.0 + 1.5)
        self.assertAlmostEqual(m["op_ms_p50"], 3000.0)
        self.assertAlmostEqual(m["op_ms_tail"], 4000.0)
        self.assertAlmostEqual(m["records_per_s"], 400 / 6.0)
        self.assertEqual(m["failed_ops_frac"], 0)
        self.assertAlmostEqual(m["quality"], 0.9)
        self.assertAlmostEqual(m["space_amp"], 4.0)

    def test_failed_ops(self):
        raw = raw_run()
        raw["ops"][1]["ok"] = False
        m = metrics.end_to_end(raw, 90)
        self.assertEqual(m["failed_ops_frac"], 0.5)
        self.assertAlmostEqual(m["records_per_s"], 100 / 6.0)


class PerLayer(unittest.TestCase):
    def test_per_op_means(self):
        m = metrics.per_layer(raw_run(trace=True))
        self.assertEqual(set(m), set(metrics.PER_LAYER))
        self.assertAlmostEqual(m["trace.self_sum_error_ms"], 0.0)
        self.assertAlmostEqual(m["operators.FuzzyMatch.s"], (0.8 + 2.0) / 2)
        self.assertAlmostEqual(m["operators.FuzzyMatch.pairs"], 100.0)
        self.assertAlmostEqual(m["operators.FuzzyMatch.yield"], 0.1)
        self.assertAlmostEqual(m["sources.StageSink.bytes"], 2000.0)
        # op 1: jobs cover 0.7 s + 0.5 s of 2 s; op 2: two overlapping
        # jobs cover 2 s of 4 s -> gaps 0.8 s and 2 s
        self.assertAlmostEqual(m["exec.driver_gap_s"], (0.8 + 2.0) / 2)
        self.assertAlmostEqual(m["exec.jobs"], 2.0)
        self.assertAlmostEqual(m["exec.task_s"], (3.0 + 8.0) / 2)
        self.assertAlmostEqual(m["exec.core_util"], 11.0 / (4 * 6.0))
        self.assertAlmostEqual(m["plans.optimization_ms"], 3.0)
        self.assertAlmostEqual(m["plans.queries"], 0.5)
        self.assertAlmostEqual(m["functions.FuzzyImpl.wRatio_ns"], 900.0)
        self.assertEqual(m["operators.IndexMaintenance.compact_s"], 0.0)
        self.assertGreaterEqual(min(m.values()), 0.0)


if __name__ == "__main__":
    unittest.main()
