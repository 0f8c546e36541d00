"""Tests of the benchmark's own arithmetic (no Spark needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

from __future__ import annotations

import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_leaves_exactly_ten_beyond(self):
        for n in range(11, 500):
            pct = stats.tail_percentile(n)
            self.assertEqual(stats.samples_beyond(n, pct), 10, n)

    def test_is_the_highest_such_percentile(self):
        for n in range(11, 200):
            pct = stats.tail_percentile(n)
            # any higher rank leaves fewer than ten beyond
            self.assertLess(stats.samples_beyond(n, pct + 100.0 / n), 10, n)

    def test_known_points(self):
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail_percentile(10))
        self.assertIsNone(stats.tail_percentile(0))

    def test_reported_only_from_p90(self):
        self.assertIsNone(stats.reported_tail(24))  # p58 is no tail
        self.assertIsNone(stats.reported_tail(99))
        self.assertEqual(stats.reported_tail(100), 90.0)
        self.assertEqual(stats.reported_tail(1000), 99.0)

    def test_nearest_rank_value(self):
        xs = list(range(1, 101))  # 1..100
        random.Random(0).shuffle(xs)
        self.assertEqual(stats.nearest_rank(xs, 90.0), 90)
        self.assertEqual(stats.nearest_rank(xs, 50.0), 50)
        self.assertEqual(stats.nearest_rank(xs, 0.5), 1)
        # the tail sample has exactly ten larger ones
        tail = stats.nearest_rank(xs, stats.tail_percentile(len(xs)))
        self.assertEqual(sum(x > tail for x in xs), 10)


class OpenLoopLag(unittest.TestCase):
    def test_timed_from_scheduled_not_actual_publish(self):
        # batch 1 was due at 1.0 s but the generator published it at
        # 1.8 s; a poll returning at 3.0 s gives it 2000 ms, not 1200
        lags = stats.open_loop_lags([0.0, 1.0], [0.5, 3.0])
        self.assertEqual(lags, [500.0, 2000.0])

    def test_uncovered_batch_has_no_lag(self):
        self.assertEqual(stats.open_loop_lags([0.0, 1.0], [0.4, None])[1], None)

    def test_stall_shows_on_later_batches(self):
        # one poll that returns at 10 s covers three batches due at
        # 1, 2 and 3 s: each is charged its full wait
        lags = stats.open_loop_lags([1.0, 2.0, 3.0], [10.0, 10.0, 10.0])
        self.assertEqual(lags, [9000.0, 8000.0, 7000.0])

    def test_schedule_is_seeded_and_bounded(self):
        a = stats.paced_schedule(random.Random(7), 2.5, 0.2, 30.0, 60)
        b = stats.paced_schedule(random.Random(7), 2.5, 0.2, 30.0, 60)
        self.assertEqual(a, b)
        self.assertEqual(a[0], 0.0)
        self.assertTrue(all(t < 30.0 for t in a))
        gaps = [y - x for x, y in zip(a, a[1:])]
        self.assertTrue(all(2.0 <= g <= 3.0 for g in gaps))
        self.assertLessEqual(len(stats.paced_schedule(random.Random(7), 0.01, 0.2, 30.0, 5)), 5)


class Coverage(unittest.TestCase):
    HIS = [10, 20, 30]  # batch i holds ids up to his[i]
    CUM = [5, 9, 15]  # rows in batches 0..i

    @staticmethod
    def epoch(lo, hi, rows):
        return {"min_event_id": lo, "max_event_id": hi, "n_rows": rows}

    def test_one_epoch_per_batch(self):
        eps = [self.epoch(1, 10, 5), self.epoch(11, 20, 4)]
        self.assertEqual(stats.covered(eps, self.HIS, self.CUM), [True, True, False])

    def test_epoch_spanning_batches_covers_both(self):
        eps = [self.epoch(1, 10, 5), self.epoch(11, 30, 10)]
        self.assertEqual(stats.covered(eps, self.HIS, self.CUM), [True, True, True])

    def test_partial_batch_is_not_covered(self):
        eps = [self.epoch(1, 8, 3)]
        self.assertEqual(stats.covered(eps, self.HIS, self.CUM), [False, False, False])


class BatchAndIdleCpu(unittest.TestCase):
    def test_idle_poll_count_does_not_move_it(self):
        few = stats.batch_and_idle_cpu([1.5, 1.5], 2, [0.4] * 10, 1.5)
        many = stats.batch_and_idle_cpu([1.5, 1.5], 2, [0.4] * 50, 1.5)
        self.assertAlmostEqual(few, 2.1)
        self.assertAlmostEqual(many, 2.1)

    def test_idle_cost_moves_it(self):
        self.assertAlmostEqual(stats.batch_and_idle_cpu([1.5], 1, [0.8, 0.8], 1.5), 2.7)

    def test_poll_covering_two_batches_is_split(self):
        self.assertAlmostEqual(stats.batch_and_idle_cpu([2.0, 1.0], 3, [0.3], 1.0), 1.3)

    def test_no_idle_poll(self):
        self.assertAlmostEqual(stats.batch_and_idle_cpu([1.2], 1, [], 1.5), 1.2)


class FailedFrac(unittest.TestCase):
    def test_counts_each_failed_operation_once(self):
        o = stats.Outcome()
        o.attempt(10)
        o.fail(3)
        o.fail(3)  # missing and duplicated: still one failed batch
        o.fail(7)
        self.assertEqual((o.attempted, o.failed), (10, 2))
        self.assertAlmostEqual(o.failed_frac, 0.2)

    def test_nothing_attempted(self):
        self.assertEqual(stats.Outcome().failed_frac, 0.0)


if __name__ == "__main__":
    unittest.main()
