"""Unit tests for the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import layers  # noqa: E402
from metrics import percentile, self_times, spread, uncovered, union_length  # noqa: E402


class IntervalUnion(unittest.TestCase):
    def test_disjoint_nested_and_touching(self):
        self.assertEqual(union_length([(0, 1), (2, 4)]), 3)
        self.assertEqual(union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(union_length([(0, 2), (2, 5)]), 5)
        self.assertEqual(union_length([(3, 6), (0, 4)]), 6)

    def test_empty_and_degenerate(self):
        self.assertEqual(union_length([]), 0)
        self.assertEqual(union_length([(5, 5), (7, 6)]), 0)

    def test_no_task_time_counts_overlapping_tasks_once(self):
        # four tasks on four cores, two of them overlapping, inside a
        # 10 ms invocation: tasks cover 2..6 and 8..9, so 5 ms run no task
        tasks = [(2, 5), (3, 6), (2, 4), (8, 9)]
        self.assertEqual(uncovered(0, 10, tasks), 5)

    def test_no_task_time_clips_tasks_to_the_invocation(self):
        # a task that outlived the previous invocation only counts inside
        self.assertEqual(uncovered(10, 20, [(5, 12), (18, 30)]), 6)
        self.assertEqual(uncovered(10, 20, [(0, 5), (25, 30)]), 10)


class SpanSelfTime(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start_ms": start, "end_ms": end}

    def test_self_time_subtracts_children_once(self):
        spans = [self.span(1, 0, 0, 100),        # query
                 self.span(2, 1, 0, 30),         # build
                 self.span(3, 1, 30, 35),        # plan
                 self.span(4, 1, 35, 100),       # action
                 self.span(5, 4, 40, 60),        # job
                 self.span(6, 4, 50, 90)]        # overlapping job
        st = self_times(spans)
        self.assertEqual(st[1], 0)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[4], 65 - 50)
        self.assertEqual(st[5], 20)

    def test_child_outside_parent_is_clipped(self):
        st = self_times([self.span(1, 0, 10, 20), self.span(2, 1, 15, 40)])
        self.assertEqual(st[1], 5)


class PercentileSupport(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(percentile(range(19), 0.5))
        self.assertEqual(percentile(range(1, 21), 0.5), 10)
        self.assertIsNone(percentile(range(99), 0.9))
        self.assertEqual(percentile(range(1, 101), 0.9), 90)
        self.assertIsNone(percentile(range(999), 0.99))
        self.assertEqual(percentile(range(1, 1001), 0.99), 990)

    def test_nearest_rank_ignores_order(self):
        xs = list(range(1, 41))
        self.assertEqual(percentile(reversed(xs), 0.5), 20)

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(spread([10] * 10), 0)
        self.assertGreater(spread([8, 9, 10, 11, 12, 8, 9, 10, 11, 12]), 0)


class StreamPhases(unittest.TestCase):
    def topology(self):
        def b(i, start, end, trig, ms):
            return {"batch": i, "start_offset": start, "end_offset": end,
                    "rows": end - start, "trigger_start_ms": trig, "batch_ms": ms}
        return {"backlog": 300, "rate": 100.0, "drain_start_ms": 0.0, "rate_start_ms": 1000.0,
                "batches": [b(0, 0, 100, 0, 400), b(1, 100, 200, 400, 200),
                            b(2, 200, 300, 600, 250), b(3, 300, 310, 1100, 50)]}

    def test_drain_excludes_the_first_batch(self):
        d = layers.drain(self.topology())
        self.assertEqual(d["batches"], 3)
        # median of 100 rows / 200 ms and 100 rows / 250 ms
        self.assertAlmostEqual(d["rows_per_s"], (500 + 400) / 2)
        self.assertAlmostEqual(d["seconds"], 0.85)

    def test_rate_latency_runs_from_due_time_to_batch_end(self):
        lat, late = layers.rate_latencies(self.topology())
        # rows 300..309 are due at 1000, 1010, ... 1090 ms; the batch ends at 1150
        self.assertEqual(len(lat), 10)
        self.assertAlmostEqual(lat[0], 150)
        self.assertAlmostEqual(lat[-1], 60)
        self.assertEqual(late, [100.0])


if __name__ == "__main__":
    unittest.main()
