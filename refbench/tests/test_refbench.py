"""The benchmark's own tests: every workload at its smoke size passes its
checks, a perturbed engine output fails them, and a tree without the engine
sources is refused.

Run from the root of a checkout (each case starts a JVM; a few minutes in all):

    python3 -m unittest discover -s refbench/tests -v
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)


def run(*args, cwd=ROOT, script=os.path.join(BENCH, "run.py")):
    p = subprocess.run([sys.executable, script, *args], cwd=cwd, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True, timeout=900)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result, p.stderr


def smoke(workload, *extra):
    return run("--workload", workload, "--seed", "7", "--seconds", "1", "--trace", "0",
               "--size", "smoke", *extra)


class SmokeTest(unittest.TestCase):
    def check_passes(self, workload):
        rc, result, err = smoke(workload)
        self.assertEqual(rc, 0, err[-3000:])
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreater(result["attempted"], 0)
        for name in ("setup_s", "throughput_per_s", "latency_p50_ms", "latency_p90_ms",
                     "state_bytes", "retained_heap_mb"):
            self.assertGreater(result["metrics"][name]["value"], 0, name)

    def test_backfill_smoke_passes(self):
        self.check_passes("backfill")

    def test_serve_smoke_passes(self):
        self.check_passes("serve")

    def test_live_smoke_passes(self):
        self.check_passes("live")

    def test_dropped_state_row_fails_the_check(self):
        # one row of each saved state table is dropped before the comparison
        rc, result, err = smoke("backfill", "--perturb", "drop-row")
        self.assertNotEqual(rc, 0)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertIn("rows missing", err)

    def test_dropped_response_row_fails_the_check(self):
        rc, result, _ = smoke("serve", "--perturb", "drop-row")
        self.assertNotEqual(rc, 0)
        self.assertFalse(result["correct"])

    def test_tree_without_engine_sources_is_refused(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(BENCH, os.path.join(d, "refbench"),
                            ignore=shutil.ignore_patterns(".build", ".work", ".out", "target"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            rc, result, _ = run("--workload", "serve", "--seed", "1", "--seconds", "1",
                                "--trace", "0", cwd=d,
                                script=os.path.join(d, "refbench", "run.py"))
            self.assertNotEqual(rc, 0)
            self.assertIsNone(result)


if __name__ == "__main__":
    unittest.main()
