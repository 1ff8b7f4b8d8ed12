"""Harness tests: percentiles, tail percentile, self time, metric names.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import unittest
from pathlib import Path

import metrics
from stats import median, self_times, tail, union_length


class MedianTest(unittest.TestCase):
    def test_odd_even_empty(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 3, 2]), 2.5)
        self.assertEqual(median([]), 0.0)


class TailTest(unittest.TestCase):
    def test_forty_samples_is_p75_with_ten_beyond(self):
        xs = list(range(1, 41))
        self.assertEqual(tail(xs), (30, 75, 10))

    def test_hundred_samples_is_p90(self):
        xs = list(range(100, 0, -1))
        self.assertEqual(tail(xs), (90, 90, 10))

    def test_percentile_rounds_down_so_ten_stay_beyond(self):
        # n = 45: p = floor(100 * 35 / 45) = 77; nearest rank ceil(34.65) = 35.
        value, p, beyond = tail(list(range(45)))
        self.assertEqual((value, p, beyond), (34, 77, 10))

    def test_eleven_samples_keep_ten_beyond(self):
        value, p, beyond = tail(list(range(11)))
        self.assertEqual((value, p, beyond), (0, 9, 10))

    def test_ten_or_fewer_samples_report_the_slowest(self):
        self.assertEqual(tail([0.5, 2.0, 1.0]), (2.0, 100, 0))
        self.assertEqual(tail(list(range(10))), (9, 100, 0))
        self.assertEqual(tail([]), (0.0, 0, 0))

    def test_at_least_beyond_samples_exceed_rank(self):
        for n in range(11, 300):
            xs = list(range(n))
            value, p, beyond = tail(xs)
            self.assertGreaterEqual(beyond, 10, n)
            self.assertEqual(sum(1 for x in xs if x > value), beyond)
            # The next whole percentile would leave fewer than 10 beyond.
            self.assertLess(n - (-(-(p + 1) * n // 100)), 10, n)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, t0, t1):
        return {"id": i, "parent": parent, "t0_ns": t0, "t1_ns": t1}

    def test_children_subtract_once_even_when_overlapping(self):
        spans = [self.span(0, -1, 0, 100),
                 self.span(1, 0, 10, 40),
                 self.span(2, 0, 30, 60),   # overlaps span 1 by 10
                 self.span(3, 1, 12, 20)]   # grandchild: only span 1's business
        self.assertEqual(self_times(spans), {0: 50, 1: 22, 2: 30, 3: 8})

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(0, -1, 0, 10), self.span(1, 0, 5, 20)]
        self.assertEqual(self_times(spans)[0], 5)

    def test_union_length(self):
        self.assertEqual(union_length([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(union_length([(0, 5), (3, 8)], lo=4, hi=6), 2)
        self.assertEqual(union_length([]), 0)


class SplitFusedTest(unittest.TestCase):
    @staticmethod
    def task(stage, end_ns, dur=1, shuffle_read=0):
        t = [0] * 11
        t[metrics.DUR], t[metrics.SHUF_R] = dur, shuffle_read
        t[metrics.STAGE], t[metrics.END_NS] = stage, end_ns
        return t

    def test_cut_at_the_last_task_of_stages_reading_no_shuffle(self):
        span = {"t0_ns": 0, "t1_ns": 10_000_000_000, "tasks": [
            self.task(0, 3_000_000_000, dur=7),
            self.task(0, 4_000_000_000, dur=9),
            # A rollup stage: one task read shuffle, one found its partition
            # empty; both belong to the rollup side.
            self.task(1, 6_000_000_000, shuffle_read=100),
            self.task(1, 5_000_000_000),
        ]}
        join_s, rollup_s, join = metrics.split_fused(span)
        self.assertEqual((join_s, rollup_s), (4.0, 6.0))
        self.assertEqual(sorted(t[metrics.DUR] for t in join), [7, 9])

    def test_no_jobs_leave_the_whole_span_to_the_rollup(self):
        self.assertEqual(metrics.split_fused({"t0_ns": 5, "t1_ns": 5_000_000_005,
                                              "tasks": []}), (0.0, 5.0, []))


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_names_and_units_match_the_runner(self):
        spec = json.loads(
            (Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         metrics.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
