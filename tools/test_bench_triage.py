"""Self-tests for the core-count rule and the ledger notes in bench_triage.py.

Run: python3 -m unittest tools/test_bench_triage.py
"""

import json
import os
import subprocess
import sys
import tempfile
import unittest

TRIAGE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_triage.py")
CALIB = {"pre_1t": 0.28, "post_1t": 0.28, "pre_allcore": 0.32, "post_allcore": 0.32}


def draw(cpus=None):
    d = {"metric": "total", "value": 3.0, "unit": "sec", "runs": 3,
         "queries": {"q_a": 1.0, "q_b": 2.0}, "calib": CALIB}
    if cpus is not None:
        d["cpus"] = cpus
    return d


def triage(drawn, baseline):
    with tempfile.TemporaryDirectory() as tmp:
        paths = []
        for name, content in (("draw.json", drawn), ("base.json", baseline)):
            p = os.path.join(tmp, name)
            with open(p, "w") as f:
                json.dump(content, f)
            paths.append(p)
        r = subprocess.run([sys.executable, TRIAGE] + paths,
                           capture_output=True, text=True)
    return r.returncode, r.stdout


class CoreCountTest(unittest.TestCase):
    def test_equal_core_counts_triage_on_timings(self):
        code, out = triage(draw(cpus=4), draw(cpus=4))
        self.assertEqual(code, 0, out)
        self.assertIn("VERDICT: CLEAN", out)

    def test_different_core_counts_are_dirty_and_named(self):
        code, out = triage(draw(cpus=4), draw(cpus=8))
        self.assertEqual(code, 1, out)
        verdict = [l for l in out.splitlines() if l.startswith("VERDICT")][0]
        self.assertIn("DIRTY", verdict)
        self.assertIn("draw 4 cpus", verdict)
        self.assertIn("baseline 8 cpus", verdict)

    def test_baseline_without_the_field_counts_as_32(self):
        code, out = triage(draw(cpus=4), draw())
        self.assertEqual(code, 1, out)
        self.assertIn("baseline 32 cpus", out)
        code, out = triage(draw(cpus=32), draw())
        self.assertEqual(code, 0, out)


def spiked(ledger):
    """A draw whose q_a doubled against a clean baseline: one localized
    spike, median ratio 1.0."""
    base = {"metric": "total", "value": 4.0, "unit": "sec", "runs": 3, "cpus": 4,
            "queries": {"q_a": 1.0, "q_b": 2.0, "q_c": 1.0}, "calib": CALIB}
    drawn = dict(base, value=5.0, queries={"q_a": 2.0, "q_b": 2.0, "q_c": 1.0})
    if ledger:
        cost = {"stages": 4, "tasks": 8, "cpu_s": 0.1, "deser_s": 0.01, "gc_s": 0.0}
        base["ledger"] = {"q_a": dict(cost, jobs=3, task_s=0.5)}
        drawn["ledger"] = {"q_a": dict(cost, jobs=7, task_s=1.25)}
    return drawn, base


class LedgerTest(unittest.TestCase):
    def test_a_spike_shows_its_jobs_and_task_seconds_when_both_carry_a_ledger(self):
        code, out = triage(*spiked(ledger=True))
        self.assertEqual(code, 2, out)
        self.assertIn("VERDICT: REGRESSION (clean host, localized spikes: q_a)", out)
        spike = [l for l in out.splitlines() if "spike q_a" in l][0]
        self.assertIn("(2.00x); jobs 3 -> 7, task_s 0.50 -> 1.25", spike)

    def test_a_draw_without_a_ledger_gets_the_same_verdict(self):
        code, out = triage(*spiked(ledger=False))
        self.assertEqual(code, 2, out)
        self.assertIn("VERDICT: REGRESSION (clean host, localized spikes: q_a)", out)
        spike = [l for l in out.splitlines() if "spike q_a" in l][0]
        self.assertNotIn("jobs", spike)


if __name__ == "__main__":
    unittest.main()
