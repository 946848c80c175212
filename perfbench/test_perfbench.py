#!/usr/bin/env python3
"""Tests of the benchmark itself. Run from the repository root:

    python3 perfbench/test_perfbench.py

They build the classes as run.py does, then run perfbench.SelfTest: the
same seed must give the same data and op streams, the answer checker must
count an injected wrong answer, and the metric names the benchmark prints
must equal those in BENCHMARK.json.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run as bench  # noqa: E402


class BenchmarkTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        jars = bench.spark_jars()
        classes = bench.build(jars)
        work = bench.fresh_dir(os.path.join(bench.BUILD, "work", f"selftest-{os.getpid()}"))
        env, cmd = bench.jvm(jars, classes, work, "perfbench.SelfTest", [])
        try:
            cls.proc = subprocess.run(cmd, env=env, stdout=subprocess.PIPE, text=True, timeout=600)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        cls.lines = cls.proc.stdout.splitlines()

    def test_selftest_checks_pass(self):
        failed = [ln for ln in self.lines if ln.startswith("FAIL")]
        self.assertEqual(failed, [])
        self.assertEqual(self.proc.returncode, 0)
        self.assertTrue(any("checker counts a dropped row" in ln for ln in self.lines))

    def test_metric_names_equal_benchmark_json(self):
        printed = [ln[len("names "):].split(",") for ln in self.lines if ln.startswith("names ")]
        spec = bench.spec()
        declared = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(printed, [declared])

    def test_result_line_with_other_metrics_is_refused(self):
        names = [m["name"] for m in bench.spec()["end_to_end"]]
        good = {"correct": True, "attempted": 3, "failed": 0,
                "metrics": {n: {"value": 1.5, "unit": "s"} for n in names}}
        self.assertIsNone(bench.check_result(json.dumps(good), names))
        bad = dict(good, metrics={n: v for n, v in list(good["metrics"].items())[1:]})
        self.assertIsNotNone(bench.check_result(json.dumps(bad), names))


if __name__ == "__main__":
    unittest.main()
