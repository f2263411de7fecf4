"""Unit checks of the benchmark harness's statistics.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        # 100 samples: p90 is the highest rank with ten samples beyond it
        pct, value, beyond = stats.tail(list(range(1, 101)))
        self.assertEqual((pct, value, beyond), (90.0, 90, 10))

    def test_rank_moves_with_sample_count(self):
        pct, value, beyond = stats.tail([float(x) for x in range(40)])
        self.assertEqual(beyond, 10)
        self.assertEqual(value, 29.0)
        self.assertAlmostEqual(pct, 75.0)

    def test_order_does_not_matter(self):
        xs = [float(x) for x in range(25)][::-1]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))
        self.assertEqual(stats.tail(xs), (60.0, 14.0, 10))

    def test_twenty_samples_is_the_first_real_tail(self):
        # p50 of 20 samples has exactly ten beyond it
        self.assertEqual(stats.tail(list(range(1, 21))), (50.0, 10, 10))

    def test_too_few_samples_reports_max_with_none_beyond(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (100.0, 3.0, 0))
        self.assertEqual(stats.tail(list(range(19))), (100.0, 18, 0))


class FailureCountTest(unittest.TestCase):
    def test_thrown_and_failed_checks_both_count(self):
        ops = [{"error": None}, {"error": "java.lang.RuntimeException: boom"},
               {"error": "bm25 top-10 differs from the t21 oracle"}, {"error": None}]
        self.assertEqual(stats.count_failures(ops), (4, 2))

    def test_failed_run_check_fails_every_op(self):
        ops = [{"error": None}] * 5
        self.assertEqual(stats.count_failures(ops, ["ivf_equal: differs"]), (5, 5))

    def test_no_ops(self):
        self.assertEqual(stats.count_failures([]), (0, 0))


class OverheadTest(unittest.TestCase):
    @staticmethod
    def op(kind, seconds):
        return {"kind": kind, "start_ms": 0.0, "end_ms": 1000.0 * seconds}

    def test_only_the_same_kind_is_compared(self):
        # a slow kind traced and a fast kind untraced is no overhead
        traced = [self.op("ivf nprobe=8 k=10", 2.0), self.op("bm25", 1.25)]
        untraced = [self.op("ivf nprobe=1 k=10", 0.5), self.op("bm25", 1.0)]
        self.assertEqual(stats.overhead(traced, untraced), 0.25)

    def test_kinds_are_averaged_over_their_medians(self):
        traced = [self.op("a", 1.5), self.op("a", 3.0), self.op("a", 1.5), self.op("b", 2.5)]
        untraced = [self.op("a", 1.0), self.op("b", 2.0)]
        self.assertEqual(stats.overhead(traced, untraced), 0.5)

    def test_no_common_kind(self):
        self.assertEqual(stats.overhead([self.op("a", 1.0)], [self.op("b", 2.0)]), 0.0)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [(0, -1, "op", 0.0, 10.0), (1, 0, "a", 1.0, 3.0), (2, 0, "b", 5.0, 9.0)]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 4.0)
        self.assertEqual(st[1], 2.0)
        self.assertEqual(st[2], 4.0)

    def test_overlapping_children_count_once(self):
        spans = [(0, -1, "op", 0.0, 10.0), (1, 0, "a", 1.0, 6.0), (2, 0, "b", 4.0, 8.0)]
        self.assertEqual(stats.self_times(spans)[0], 3.0)

    def test_children_are_clipped_to_the_parent(self):
        spans = [(0, -1, "op", 2.0, 6.0), (1, 0, "a", 0.0, 3.0), (2, 0, "b", 5.0, 9.0)]
        self.assertEqual(stats.self_times(spans)[0], 2.0)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [(0, -1, "op", 0.0, 10.0), (1, 0, "a", 0.0, 6.0), (2, 1, "a.x", 1.0, 5.0)]
        st = stats.self_times(spans)
        self.assertEqual((st[0], st[1], st[2]), (4.0, 2.0, 4.0))


class AttributionTest(unittest.TestCase):
    def test_jobs_go_to_the_innermost_open_span_and_roll_up(self):
        spans = [(0, -1, "op", 0.0, 10.0), (1, 0, "a", 1.0, 3.0), (2, 0, "b", 5.0, 9.0)]
        jobs = [(0, 2, [0]), (1, 4, [1]), (2, 6, [2]), (3, 20, [3])]
        st = {str(i): [2, 0, 100, 0, 0, 0, 10, 0] for i in range(4)}
        acc = stats.attribute(spans, jobs, st, [(1.5, 7)])
        self.assertEqual(acc[1]["jobs"], 1)
        self.assertEqual(acc[2]["jobs"], 1)
        self.assertEqual(acc[0]["jobs"], 3)  # job 3 started after the op
        self.assertEqual(acc[0]["tasks"], 6)
        self.assertEqual(acc[1]["plan_ms"], 7)


if __name__ == "__main__":
    unittest.main()
