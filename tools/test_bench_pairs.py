"""Self-tests for the verdict arithmetic in bench_pairs.py.

Run: python3 -m unittest tools/test_bench_pairs.py
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import bench_pairs as bp  # noqa: E402

PARENT = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]


class QuartilesTest(unittest.TestCase):
    def test_inclusive_quartiles(self):
        self.assertEqual(bp.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]), (2.0, 3.0, 4.0))
        self.assertEqual(bp.quartiles(PARENT), (12.25, 14.5, 16.75))

    def test_single_value(self):
        self.assertEqual(bp.quartiles([7.0]), (7.0, 7.0, 7.0))


class VerdictTest(unittest.TestCase):
    def test_ten_of_ten_wins_beyond_the_parent_iqr_is_a_gain(self):
        v = bp.verdict(PARENT, [x - 5.0 for x in PARENT], "lower")
        self.assertEqual((v["wins"], v["pairs"]), (10, 10))
        self.assertEqual(v["gap"], 5.0)
        self.assertEqual(v["parent_iqr"], 4.5)
        self.assertTrue(v["gain"])

    def test_gap_not_above_the_parent_iqr_is_no_gain(self):
        # Ten wins, but the medians differ by exactly the IQR (4.5).
        v = bp.verdict(PARENT, [x - 4.5 for x in PARENT], "lower")
        self.assertEqual(v["wins"], 10)
        self.assertFalse(v["gain"])

    def test_nine_of_ten_is_enough_eight_is_not(self):
        nine = [x - 6.0 for x in PARENT[:9]] + [PARENT[9] + 1.0]
        self.assertEqual(bp.verdict(PARENT, nine, "lower")["wins"], 9)
        self.assertTrue(bp.verdict(PARENT, nine, "lower")["gain"])
        eight = [x - 6.0 for x in PARENT[:8]] + [PARENT[8] + 1.0, PARENT[9] + 1.0]
        self.assertEqual(bp.verdict(PARENT, eight, "lower")["wins"], 8)
        self.assertFalse(bp.verdict(PARENT, eight, "lower")["gain"])

    def test_ties_count_for_neither_side(self):
        tied = [x - 6.0 for x in PARENT[:9]] + [PARENT[9]]
        v = bp.verdict(PARENT, tied, "lower")
        self.assertEqual(v["wins"], 9)
        self.assertTrue(v["gain"])
        two_ties = [x - 6.0 for x in PARENT[:8]] + PARENT[8:]
        self.assertFalse(bp.verdict(PARENT, two_ties, "lower")["gain"])

    def test_higher_is_better_flips_the_sign(self):
        v = bp.verdict(PARENT, [x + 5.0 for x in PARENT], "higher")
        self.assertEqual((v["wins"], v["gap"]), (10, 5.0))
        self.assertTrue(v["gain"])
        self.assertFalse(bp.verdict(PARENT, [x + 5.0 for x in PARENT], "lower")["gain"])

    def test_fewer_than_ten_pairs_is_never_a_gain(self):
        v = bp.verdict(PARENT[:9], [x - 50.0 for x in PARENT[:9]], "lower")
        self.assertEqual(v["wins"], 9)
        self.assertFalse(v["gain"])

    def test_unpaired_input_is_rejected(self):
        with self.assertRaises(ValueError):
            bp.verdict(PARENT, PARENT[:9], "lower")
        with self.assertRaises(ValueError):
            bp.verdict(PARENT, PARENT, "smaller")


class WorseByTest(unittest.TestCase):
    def test_share_of_the_parent_median(self):
        self.assertAlmostEqual(bp.worse_by([100.0, 100.0], [110.0, 110.0], "lower"), 0.10)
        self.assertAlmostEqual(bp.worse_by([100.0, 100.0], [110.0, 110.0], "higher"), -0.10)
        self.assertEqual(bp.worse_by([0.0], [0.0], "lower"), 0.0)


class SeedsTest(unittest.TestCase):
    def test_ranges_and_lists(self):
        self.assertEqual(bp.parse_seeds("22-25"), [22, 23, 24, 25])
        self.assertEqual(bp.parse_seeds("11,13,20-21"), [11, 13, 20, 21])


if __name__ == "__main__":
    unittest.main()
