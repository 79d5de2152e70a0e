"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import compare  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


def digest(tree):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(tree)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def generated(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            facts = gen.generate(workload, seed, d, ROOT)
            return digest(d), facts

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for workload in ("esoa_link", "corpus_curation"):
            a, fa = self.generated(workload, 5)
            b, fb = self.generated(workload, 5)
            c, _ = self.generated(workload, 6)
            self.assertEqual(a, b, workload)
            self.assertEqual(fa, fb, workload)
            self.assertNotEqual(a, c, workload)

    def test_esoa_inputs_state_their_shares(self):
        _, facts = self.generated("esoa_link", 5)
        self.assertGreater(facts["misspelled_share"], 0.1)
        self.assertLess(facts["distinct_text_share"], 0.6)

    def test_python_bucket_matches_the_engine_rule(self):
        # the engine's bucket: md5("<lang>:<doc_id>"), first two hex digits
        self.assertEqual(gen.decontam_bucket("en", 0),
                         int(hashlib.md5(b"en:0").hexdigest()[:2], 16))


class MetricNameTest(unittest.TestCase):
    def test_names_are_well_formed_and_unique(self):
        names = [n for n, _, _ in stats.END_TO_END + stats.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9_.-]+$")
            self.assertTrue(stats.NAME_RE.match(n), n)

    def test_benchmark_json_lists_exactly_the_emitted_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        for group, defs in (("end_to_end", stats.END_TO_END),
                            ("per_layer", stats.PER_LAYER)):
            listed = [(m["name"], m["unit"], m["better"]) for m in bench[group]]
            self.assertEqual(listed, list(defs), group)
        for w in bench["workloads"]:
            self.assertTrue(stats.NAME_RE.match(w["name"]))


def raw_runs(*runs):
    """Raw samples of an invocation whose runs are all timed."""
    return {"session_s": 4.0, "setup_s": 10.0, "retained_heap_mb": 90.0,
            "runs": [dict(r, timed=True) for r in runs]}


class FailureAccountingTest(unittest.TestCase):
    def test_a_throwing_run_counts_as_failed_not_as_a_fast_time(self):
        raw = raw_runs(
            {"ok": True, "wall_s": 8.0},
            {"ok": False, "error": "java.lang.IllegalStateException: boom"},
            {"ok": True, "wall_s": 6.0})
        r = stats.summarize(raw, [], 0.5, 0)
        self.assertEqual((r["attempted"], r["failed"]), (3, 1))
        self.assertAlmostEqual(r["details"]["fail_share"], 1 / 3)
        self.assertEqual(r["end_to_end"]["wall_s"], 7.0)
        self.assertFalse(r["correct"])
        line = stats.contract_line(r)
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 1)

    def test_a_changed_output_or_failed_check_is_a_failure(self):
        raw = raw_runs({"ok": True, "wall_s": 8.0},
                       {"ok": False, "wall_s": 1.0,
                        "error": "output differs from the first run's"})
        checks = [{"name": "golden", "ok": False, "detail": "1 differs"}]
        r = stats.summarize(raw, checks, 0.5, 0)
        self.assertEqual((r["attempted"], r["failed"]), (3, 2))
        self.assertEqual(r["end_to_end"]["wall_s"], 8.0)

    def test_all_good_runs_are_correct_and_carry_every_metric(self):
        raw = raw_runs({"ok": True, "wall_s": 8.0},
                       {"ok": True, "wall_s": 7.0})
        r = stats.summarize(raw, [{"name": "g", "ok": True, "detail": ""}],
                            0.5, 0)
        line = stats.contract_line(r)
        self.assertTrue(line["correct"])
        self.assertEqual(set(line["metrics"]),
                         {n for n, _, _ in stats.END_TO_END})
        self.assertEqual(line["metrics"]["setup_s"]["value"], 14.5)

    def test_untimed_runs_are_checked_but_give_no_time(self):
        raw = raw_runs({"ok": True, "wall_s": 8.0}, {"ok": True, "wall_s": 6.0})
        raw["runs"].insert(0, {"ok": True, "wall_s": 30.0, "timed": False})
        r = stats.summarize(raw, [], 0.5, 0)
        self.assertEqual(r["end_to_end"]["wall_s"], 7.0)
        self.assertTrue(r["correct"])
        # a traced run whose output differs from the first run's fails
        raw["runs"].append({"ok": False, "wall_s": 7.5, "timed": False,
                            "error": "output differs from the first run's"})
        raw["trace"] = {"metrics": {}, "traced_wall_s": 7.5}
        r = stats.summarize(raw, [], 0.5, 1)
        self.assertEqual((r["attempted"], r["failed"]), (4, 1))
        self.assertFalse(stats.contract_line(r)["correct"])
        self.assertEqual(r["per_layer"]["trace.overhead_s"], 0.5)


class CompareTest(unittest.TestCase):
    def result(self, **stamp):
        base = {"cores": 4, "master": "local[4]", "git_sha": "a"}
        return {"workload": "esoa_link", "stamp": dict(base, **stamp),
                "end_to_end": {"wall_s": 10.0}, "per_layer": {}}

    def test_refuses_results_from_different_hosts(self):
        with self.assertRaises(ValueError):
            compare.compare(self.result(), self.result(cores=32))

    def test_compares_code_versions_on_one_host(self):
        lines = compare.compare(self.result(), dict(
            self.result(git_sha="b"), end_to_end={"wall_s": 9.0}))
        self.assertEqual(lines, ["end_to_end.wall_s: 10 -> 9 (-10.0%)"])


class OutsideASourceTreeTest(unittest.TestCase):
    def test_exits_nonzero_without_a_result(self):
        with tempfile.TemporaryDirectory() as d:
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload",
                 "esoa_link", "--seed", "1", "--seconds", "1", "--trace", "0"],
                cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                text=True, timeout=120)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
