"""Tests for the paired A/B verdict.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import os
import subprocess
import tempfile
import unittest
from unittest import mock

import paired_perfbench
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


class ExportTest(unittest.TestCase):
    """Both sides run from exports: the change side carries the
    checkout's uncommitted and untracked files, and nothing runs in the
    checkout itself."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.root = root = self.tmp.name

        def git(*args):
            subprocess.run(["git", "-C", root, *args], check=True,
                           stdout=subprocess.DEVNULL)

        def write(path, text):
            os.makedirs(os.path.dirname(os.path.join(root, path)), exist_ok=True)
            with open(os.path.join(root, path), "w") as f:
                f.write(text)

        git("init", "-q")
        write("BENCHMARK.json", json.dumps({"run_seconds": 1, "end_to_end": [
            {"name": "wall_s", "better": "lower", "bound": 0.25}]}))
        write("perfbench/compare.py", "def host(stamp):\n    return stamp\n")
        write("src.txt", "parent\n")
        write(".gitignore", "ignored.txt\n")
        git("add", "-A")
        git("-c", "user.name=t", "-c", "user.email=t@t", "commit", "-q", "-m", "p")
        write("src.txt", "change\n")
        write("new.txt", "untracked\n")
        write("ignored.txt", "build output\n")

    def tearDown(self):
        self.tmp.cleanup()

    def test_change_export_has_modified_and_untracked_files(self):
        trees = {}

        def fake_run(tree, workload, seed, seconds):
            with open(os.path.join(tree, "src.txt")) as f:
                side = f.read().strip()
            trees.setdefault(side, set()).add(tree)
            if side == "change":
                self.assertTrue(os.path.exists(os.path.join(tree, "new.txt")))
            self.assertFalse(os.path.exists(os.path.join(tree, "ignored.txt")))
            return "host", {"wall_s": 1.0}, ""

        with mock.patch.object(paired_perfbench, "ROOT", self.root), \
                mock.patch.object(paired_perfbench, "run_side", fake_run), \
                mock.patch("sys.stdout"):
            self.assertEqual(paired_perfbench.main(
                ["HEAD", "--workload", "w", "--pairs", "2", "--seed0", "1"]), 0)
        self.assertEqual(set(trees), {"parent", "change"})
        used = trees["parent"] | trees["change"]
        self.assertEqual(len(used), 2)
        self.assertNotIn(self.root, used)
        # the checkout's own index still stages nothing
        status = subprocess.run(["git", "-C", self.root, "diff", "--cached",
                                 "--name-only"], stdout=subprocess.PIPE,
                                text=True, check=True).stdout
        self.assertEqual(status, "")


if __name__ == "__main__":
    unittest.main()
