"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import datetime
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402
import verify  # noqa: E402


class TailRule(unittest.TestCase):
    def test_only_the_median_below_forty_samples(self):
        self.assertIsNone(stats.tail(list(range(39))))

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail(list(range(1, 41))), (75.0, 30, 10))
        self.assertEqual(stats.tail(list(range(1, 100)))[0], 75.0)  # p90 leaves 9
        self.assertEqual(stats.tail(list(range(1, 101))), (90.0, 90, 10))
        self.assertEqual(stats.tail(list(range(1, 1001))), (99.0, 990, 10))
        self.assertEqual(stats.tail(list(range(1, 10001)))[0], 99.9)

    def test_every_reported_tail_has_ten_samples_beyond(self):
        for n in range(1, 400):
            t = stats.tail(list(range(n)))
            if t:
                self.assertGreaterEqual(sum(1 for v in range(n) if v > t[1]), 10)

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 50), 3)
        self.assertEqual(stats.percentile([5, 1, 4, 2, 3], 100), 5)
        self.assertEqual(stats.percentile([7], 90), 7)


class Spans(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end}

    def test_self_time_subtracts_the_union_of_direct_children(self):
        spans = [self.span(1, 0, 0, 100),
                 self.span(2, 1, 10, 40),
                 self.span(3, 1, 30, 60),   # overlaps its sibling
                 self.span(4, 2, 15, 20),   # grandchild: only its parent's business
                 self.span(5, 1, 90, 130)]  # runs past the parent: clipped
        got = stats.self_times(spans)
        self.assertEqual(got[1], 100 - 50 - 10)
        self.assertEqual(got[2], 30 - 5)
        self.assertEqual(got[3], 30)
        self.assertEqual(got[4], 5)
        self.assertEqual(got[5], 40)

    def test_descendants(self):
        spans = [self.span(1, 0, 0, 9), self.span(2, 1, 1, 2), self.span(3, 2, 1, 2),
                 self.span(4, 0, 10, 11)]
        d = stats.descendants(spans)
        self.assertEqual(d[1], {1, 2, 3})
        self.assertEqual(d[4], {4})

    def test_innermost_span_at_a_time(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 40), self.span(3, 2, 20, 30)]
        self.assertEqual(stats.innermost(spans, 25)["id"], 3)
        self.assertEqual(stats.innermost(spans, 35)["id"], 2)
        self.assertEqual(stats.innermost(spans, 90)["id"], 1)
        self.assertIsNone(stats.innermost(spans, 150))

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6), (6, 6)]), 4)
        self.assertEqual(stats.union_length([]), 0)


class JobGroupAttribution(unittest.TestCase):
    def test_stages_follow_the_job_group_of_the_first_job_listing_them(self):
        jobs = [{"job": 2, "span": 20, "stages": [5, 6]},
                {"job": 1, "span": 10, "stages": [4, 5]}]
        stages = [{"stage": 4, "attempt": 0}, {"stage": 5, "attempt": 0},
                  {"stage": 5, "attempt": 1}, {"stage": 6, "attempt": 0},
                  {"stage": 9, "attempt": 0}]
        got = stats.attribute(jobs, stages)
        self.assertEqual(sorted((s["stage"], s["attempt"]) for s in got[10]),
                         [(4, 0), (5, 0), (5, 1)])
        self.assertEqual([s["stage"] for s in got[20]], [6])
        self.assertNotIn(None, got)

    def test_driver_gap_is_wall_minus_stage_union(self):
        span = {"start": 0, "end": 10_000}  # microseconds
        stages = [{"submitted": 2, "completed": 4}, {"submitted": 3, "completed": 6},
                  {"submitted": 9, "completed": 12}]  # milliseconds; last one clipped
        self.assertEqual(stats.driver_gap_us(span, stages), 10_000 - 4_000 - 1_000)

    def test_scan_stages_are_the_stages_that_updated_a_scan_metric(self):
        queries = [{"scans": [{"format": "JSON", "accums": [7, 8]},
                              {"format": "Parquet", "accums": [20]}]},
                   {"scans": [{"format": "JSON", "accums": [30]}]}, {}]
        stages = [{"stage": 1, "accums": [1, 8]}, {"stage": 2, "accums": [20, 21]},
                  {"stage": 3, "accums": [30]}, {"stage": 4}]
        self.assertEqual([s["stage"] for s in stats.scan_stages(queries, stages, "JSON")],
                         [1, 3])
        self.assertEqual([s["stage"] for s in stats.scan_stages(queries, stages, "Parquet")],
                         [2])


class RowEquality(unittest.TestCase):
    def test_order_tolerant_and_float_tolerant(self):
        self.assertTrue(verify.rows_equal([[1, 0.1 + 0.2]], [(1, 0.3)]))
        self.assertTrue(verify.rows_equal([[2, "b"], [1, "a"]], [(1, "a"), (2, "b")]))
        self.assertFalse(verify.rows_equal([[1, "a"]], [(1, "b")]))
        self.assertFalse(verify.rows_equal([[1, "a"]], [(1, "a"), (1, "a")]))

    def test_timestamps_and_decimals(self):
        ts = datetime.datetime(2024, 1, 1, 0, 0, 1)
        self.assertTrue(verify.rows_equal([[1704067201000000, "12.50"]],
                                          [(ts, __import__("decimal").Decimal("12.5"))]))


if __name__ == "__main__":
    unittest.main()
