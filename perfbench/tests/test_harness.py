"""Checks of the benchmark harness itself.

    python3 -m unittest discover -s perfbench/tests

Run from the repository root. The fault test builds the harness on first
use (about half a minute) and starts one JVM.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.getcwd()
RUN = os.path.join(ROOT, "perfbench", "run.py")


def run(cwd, *args):
    return subprocess.run([sys.executable, RUN, *args], cwd=cwd, capture_output=True,
                          text=True, timeout=300)


class FailureAccounting(unittest.TestCase):
    def test_throwing_and_hanging_operations_are_counted_not_timed(self):
        p = run(ROOT, "--workload", "faults", "--seed", "1", "--seconds", "1", "--trace", "0")
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        line = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(line["attempted"], 5)
        self.assertEqual(line["failed"], 3)
        self.assertFalse(line["correct"])
        result = json.load(open(os.path.join(ROOT, ".bench_work", "faults", "result.json")))
        # the two passing operations are the only samples
        self.assertEqual(len(result["samples"]), 2)
        reasons = " ".join(result["failures"])
        self.assertIn("threw", reasons)
        self.assertEqual(reasons.count("deadline"), 2)


class MissingSources(unittest.TestCase):
    def test_fails_without_result_outside_a_checkout(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = run(d, "--workload", "daily_rec", "--seed", "1", "--seconds", "1",
                    "--trace", "0")
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


class Tail(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond_it(self):
        sys.path.insert(0, os.path.join(ROOT, "perfbench"))
        import run as bench
        self.assertIsNone(bench.tail_stat([1.0] * 19))
        self.assertEqual(bench.tail_stat([float(i) for i in range(20)])[0], 50)
        self.assertEqual(bench.tail_stat([float(i) for i in range(100)])[0], 90)


class Manifest(unittest.TestCase):
    def test_printed_metrics_match_the_manifest(self):
        # an untraced run prints every END_TO_END metric and a traced run
        # every PER_LAYER metric, on every workload
        sys.path.insert(0, os.path.join(ROOT, "perfbench"))
        import run as bench
        manifest = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        for printed, listed in ((bench.END_TO_END, manifest["end_to_end"]),
                                (bench.PER_LAYER, manifest["per_layer"])):
            self.assertEqual(printed, {m["name"]: m["unit"] for m in listed})


if __name__ == "__main__":
    unittest.main()
