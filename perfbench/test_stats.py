"""Self-tests for the benchmark's own arithmetic.

Run from the root of a checkout:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import stats


class PercentileRule(unittest.TestCase):
    def test_reports_only_with_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(sum(x > 90 for x in xs), 10)
        self.assertIsNone(stats.percentile(xs[:99], 90))

    def test_minimum_sample_counts(self):
        for p, n in ((50, 20), (90, 100), (99, 1000)):
            self.assertIsNotNone(stats.percentile(range(n), p))
            self.assertIsNone(stats.percentile(range(n - 1), p))

    def test_tail_is_the_highest_reportable_percentile(self):
        self.assertEqual(stats.tail(range(1, 51)), (80, 40))
        self.assertEqual(stats.tail(range(1, 2001)), (99, 1980))
        self.assertEqual(stats.tail(range(1, 12)), (9, 1))
        self.assertEqual(stats.tail(range(1, 11)), (None, None))

    def test_nearest_rank_ignores_input_order(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 8  # 40 samples, median rank 20
        self.assertEqual(stats.percentile(xs, 50), 3.0)

    def test_rejects_out_of_range(self):
        with self.assertRaises(ValueError):
            stats.percentile([1, 2, 3], 100)


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(stats.self_time(10, 25, []), 15)

    def test_overlapping_children_count_once(self):
        # [10,30] and [20,40] overlap: together they cover [10,40].
        self.assertEqual(stats.self_time(0, 100, [(10, 30), (20, 40)]), 70)

    def test_children_clipped_to_the_span(self):
        # [-5,5] covers [0,5]; [90,120] covers [90,100]; [200,300] nothing.
        children = [(-5, 5), (90, 120), (200, 300)]
        self.assertEqual(stats.covered(0, 100, children), 15)
        self.assertEqual(stats.self_time(0, 100, children), 85)

    def test_nested_and_covering_children(self):
        self.assertEqual(stats.self_time(0, 100, [(10, 90), (20, 30)]), 20)
        self.assertEqual(stats.self_time(0, 100, [(-1, 101), (50, 60)]), 0)

    def test_unsorted_children(self):
        children = [(60, 70), (0, 10), (5, 20), (65, 80)]
        self.assertEqual(stats.covered(0, 100, children), 40)


class OpenLoop(unittest.TestCase):
    def test_latency_from_due_time_and_lateness(self):
        records = [
            {"due_ms": 0.0, "start_ms": 0.5, "end_ms": 2.0},
            # The generator was stuck: sent 20 ms late, answered in 1 ms.
            {"due_ms": 10.0, "start_ms": 30.0, "end_ms": 31.0},
            # Clock jitter may wake it a hair early; lateness is never negative.
            {"due_ms": 40.0, "start_ms": 39.9, "end_ms": 41.0},
        ]
        latency, lateness = stats.open_loop(records)
        self.assertEqual(latency, [2.0, 21.0, 1.0])
        self.assertEqual(lateness, [0.5, 20.0, 0.0])


if __name__ == "__main__":
    unittest.main()


class CpuPerDeposit(unittest.TestCase):
    def test_batches_per_write_by_query(self):
        bs = [{"query": "a"}] * 6 + [{"query": "b"}] * 3
        self.assertEqual(stats.batches_per_write(bs, 3), {"a": 2.0, "b": 1.0})

    def test_median_per_batch_times_batches_per_write(self):
        # Query a: two micro-batches per write, median 10.5 ms despite one
        # slow batch; query b: one, median 4 ms. A write carries 2 deposits.
        measured = [{"query": "a", "cpu_ms": v} for v in (9, 10, 11, 500)] + \
                   [{"query": "b", "cpu_ms": v} for v in (3, 4, 5)]
        got = stats.cpu_ms_per_deposit(measured, {"a": 2.0, "b": 1.0}, 2)
        self.assertAlmostEqual(got, (10.5 * 2 + 4 * 1) / 2)
