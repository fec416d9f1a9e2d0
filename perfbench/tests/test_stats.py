"""Unit tests for the benchmark's pure helpers. Run from the repo root:

    python3 -m unittest discover -s perfbench/tests
"""
import random
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import stats  # noqa: E402


def op(wall, build=0.0, plan=0.0, exec_=0.0, release=0.0, jobs=(0, 0, 0, 0), untagged=0):
    rec = {"wall_s": wall, "build_s": build, "plan_s": plan, "exec_s": exec_,
           "release_s": release, "untagged_jobs": untagged}
    rec.update({f"{p}_jobs": j for p, j in zip(stats.PHASES, jobs)})
    return rec


class TailTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        values = list(range(1, 101))
        random.Random(7).shuffle(values)
        pct, value, n = stats.tail(values)
        self.assertEqual((pct, value, n), (90.0, 90, 100))
        self.assertEqual(sum(v > value for v in values), 10)

    def test_small_run_moves_the_percentile_down(self):
        pct, value, n = stats.tail([float(x) for x in range(24)])
        self.assertAlmostEqual(pct, 100 * 14 / 24)
        self.assertEqual(value, 13.0)

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail([1.0] * 10))
        self.assertEqual(stats.tail([5.0] * 11), (100 / 11, 5.0, 11))


class ReconcileTest(unittest.TestCase):
    def test_phases_cover_wall(self):
        self.assertEqual(stats.reconcile(op(1.0, 0.3, 0.1, 0.598, 0.0, (5, 0, 3, 0))), [])

    def test_uncovered_wall_is_reported(self):
        problems = stats.reconcile(op(1.0, 0.3, 0.1, 0.4, 0.0))
        self.assertEqual(len(problems), 1)
        self.assertIn("phases sum", problems[0])

    def test_short_ops_get_an_absolute_allowance(self):
        self.assertEqual(stats.reconcile(op(0.02, 0.01, 0.0, 0.006)), [])

    def test_untagged_jobs_break_the_job_sum(self):
        problems = stats.reconcile(op(1.0, 0.5, 0.0, 0.5, jobs=(2, 0, 1, 0), untagged=1))
        self.assertEqual(problems, ["phase jobs 3 != scheduler jobs 4"])


class DigestCheckTest(unittest.TestCase):
    expected = {"q1": {"rows": 3, "hash": "ab"}}

    def test_match_and_mismatch(self):
        good = {"q": "q1", "rows": 3, "hash": "ab", "err": None}
        self.assertIsNone(stats.check_digest(good, self.expected))
        self.assertIn("!=", stats.check_digest(dict(good, hash="cd"), self.expected))
        self.assertIn("error", stats.check_digest(dict(good, err="boom"), self.expected))
        self.assertIn("no expected", stats.check_digest(dict(good, q="q2"), self.expected))


if __name__ == "__main__":
    unittest.main()
