"""Tests of the benchmark itself. Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py

The declaration test runs every workload twice (untraced and traced) at
a short length, a few minutes in all; PERFBENCH_TEST_WORKLOADS (comma
separated) narrows it.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DECL = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace=0, seconds=4, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, str(Path(cwd) / "perfbench" / "run.py"), "--workload",
         workload, "--seed", "7", "--seconds", str(seconds), "--trace", str(trace)],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=400)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None)


class ServerBackedChecks(unittest.TestCase):
    def test_selftest(self):
        """Percentile rule, a 500 ms stall in the due-timed ack tail, and
        acked = landed + dropped + queued on a forced overflow."""
        code, rec = run("selftest")
        self.assertEqual(code, 0)
        self.assertTrue(rec["correct"], rec)
        self.assertEqual(rec["failed"], 0)
        self.assertEqual(rec["attempted"], 5)


class Declarations(unittest.TestCase):
    def test_printed_metrics_are_declared_and_declared_are_printed(self):
        only = os.environ.get("PERFBENCH_TEST_WORKLOADS")
        names = [w["name"] for w in DECL["workloads"]]
        for w in (only.split(",") if only else names):
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    code, rec = run(w, trace)
                    self.assertEqual(code, 0)
                    self.assertEqual(set(rec), {"correct", "attempted", "failed", "metrics"})
                    declared = {m["name"]: m["unit"] for m in DECL[key]}
                    printed = {k: v["unit"] for k, v in rec["metrics"].items()}
                    self.assertEqual(printed, declared)
                    self.assertTrue(rec["correct"], rec)


class Refusal(unittest.TestCase):
    def test_fails_without_the_program(self):
        """A checkout holding only the benchmark exits non-zero, no record."""
        bare = ROOT / ".bench_build" / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        try:
            shutil.copy(ROOT / "BENCHMARK.json", bare)
            shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            code, rec = run("ingest_stream", cwd=bare)
            self.assertNotEqual(code, 0)
            self.assertIsNone(rec)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
