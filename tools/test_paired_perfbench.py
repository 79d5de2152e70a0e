"""Tests for the paired A/B verdict.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import unittest

from paired_perfbench import bound_check, quartiles, verdict

PARENT = [16.6, 15.1, 18.4, 13.3, 17.0, 16.2, 14.8, 17.9, 16.9, 15.5]


class VerdictTest(unittest.TestCase):

    def test_clear_gain(self):
        change = [x * 0.55 for x in PARENT]
        v = verdict(PARENT, change)
        self.assertTrue(v["gain"], v)
        self.assertEqual(v["wins"], 10)

    def test_eight_of_ten_wins_is_not_a_gain(self):
        change = [x * 0.5 for x in PARENT[:8]] + [x + 1 for x in PARENT[8:]]
        v = verdict(PARENT, change)
        self.assertEqual(v["wins"], 8)
        self.assertFalse(v["gain"])

    def test_nine_of_ten_wins_with_a_wide_gap_is_a_gain(self):
        change = [x * 0.5 for x in PARENT[:9]] + [PARENT[9] + 1]
        v = verdict(PARENT, change)
        self.assertEqual(v["wins"], 9)
        self.assertTrue(v["gain"], v)

    def test_gap_inside_parent_iqr_is_not_a_gain(self):
        change = [x - 0.2 for x in PARENT]
        v = verdict(PARENT, change)
        self.assertEqual(v["wins"], 10)
        self.assertFalse(v["gain"])
        self.assertIn("IQR", v["reason"])

    def test_ties_count_for_neither_side(self):
        change = list(PARENT)
        v = verdict(PARENT, change)
        self.assertEqual(v["wins"], 0)
        self.assertFalse(v["gain"])

    def test_fewer_than_ten_pairs_is_never_a_gain(self):
        v = verdict(PARENT[:9], [x * 0.5 for x in PARENT[:9]])
        self.assertEqual(v["wins"], 9)
        self.assertFalse(v["gain"])

    def test_higher_is_better_flips_the_direction(self):
        v = verdict(PARENT, [x * 2 for x in PARENT], better="higher")
        self.assertTrue(v["gain"], v)
        self.assertFalse(verdict(PARENT, [x * 2 for x in PARENT])["gain"])

    def test_quartiles(self):
        self.assertEqual(quartiles([1.0, 2.0, 3.0, 4.0, 5.0]), (2.0, 3.0, 4.0))
        self.assertEqual(quartiles([7.0]), (7.0, 7.0, 7.0))

    def test_bound_check(self):
        flat = [10.0, 10.1, 10.2, 9.9, 10.0, 10.1]
        self.assertEqual(bound_check(flat, [x * 1.02 for x in flat], 0.1),
                         "within bound")
        self.assertEqual(bound_check(flat, [x * 1.2 for x in flat], 0.1),
                         "worse")
        self.assertEqual(bound_check(flat, [x * 1.2 for x in flat], 0.1,
                                     better="higher"), "within bound")
        wide = [5.0, 10.0, 15.0, 8.0, 12.0, 10.0]
        self.assertEqual(bound_check(wide, wide, 0.1), "unresolved")
        # every change run better than every parent run: resolved
        self.assertEqual(bound_check(wide, [1.0] * 6, 0.1), "within bound")

    def test_unpaired_input_is_refused(self):
        with self.assertRaises(ValueError):
            verdict([1.0], [1.0, 2.0])


if __name__ == "__main__":
    unittest.main()
