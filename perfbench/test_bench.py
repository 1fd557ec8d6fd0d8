#!/usr/bin/env python3
"""Tests of the benchmark itself: every output check must catch a planted
fault, and a clean traced run must print every metric with its unit and
keep its final line short.

Usage (from the repository root; about ten minutes at local[4]):
  python3 perfbench/test_bench.py
"""
import json
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

FINAL_LINE_LIMIT = 2000


def bench(*args):
    out = subprocess.run([sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "4", *args],
                         capture_output=True, text=True, timeout=600)
    return out.returncode, out.stdout


def metric_lines(stdout):
    """{name: unit} of the "metric <name> <value> <unit>" lines."""
    found = {}
    for line in stdout.splitlines():
        parts = line.split()
        if parts and parts[0] == "metric":
            float(parts[2])
            found[parts[1]] = parts[3]
    return found


class PlantedFaults(unittest.TestCase):
    def assert_caught(self, args, needle):
        code, stdout = bench(*args)
        self.assertEqual(code, 1, stdout[-2000:])
        final = json.loads(stdout.splitlines()[-1])
        self.assertFalse(final["correct"])
        self.assertGreater(final["failed"], 0)
        self.assertIn(needle, stdout)

    def test_dropped_dead_letter(self):
        self.assert_caught(["--workload", "dlq_clean", "--fault", "drop_letter"],
                           "input ids in neither values nor letters")

    def test_dropped_dead_letter_in_storm(self):
        self.assert_caught(["--workload", "dlq_storm", "--fault", "drop_letter"],
                           "input ids in neither values nor letters")

    def test_altered_curation_row(self):
        self.assert_caught(["--workload", "curation", "--fault", "alter_row"],
                           "p28_ppl_buckets differs from its DuckDB oracle")

    def test_stream_batch_written_twice(self):
        self.assert_caught(["--workload", "stream_dlq", "--fault", "double_batch"],
                           "exactly once")


class CleanTracedRuns(unittest.TestCase):
    bench_json = json.load(open("BENCHMARK.json"))

    def check(self, workload):
        code, stdout = bench("--workload", workload, "--trace", "1")
        self.assertEqual(code, 0, stdout[-2000:])
        final_line = stdout.splitlines()[-1]
        self.assertLess(len(final_line), FINAL_LINE_LIMIT)
        final = json.loads(final_line)
        self.assertTrue(final["correct"])
        self.assertEqual(final["failed"], 0)
        self.assertEqual(set(final["metrics"]), {m["name"] for m in self.bench_json["per_layer"]})
        printed = metric_lines(stdout)
        expected = {name: unit for name, unit, _ in run.per_layer_spec()}
        expected.update({m["name"]: m["unit"] for m in self.bench_json["end_to_end"]})
        expected["failed_ratio"] = "ratio"
        for name, unit in expected.items():
            self.assertEqual(printed.get(name), unit, name)
        self.assertTrue(os.path.exists(os.path.join(".bench_build", "traces", f"{workload}-7.jsonl")))

    def test_curation(self):
        self.check("curation")

    def test_stream_dlq(self):
        self.check("stream_dlq")

    def test_dlq_clean(self):
        self.check("dlq_clean")

    def test_dlq_storm(self):
        self.check("dlq_storm")


if __name__ == "__main__":
    unittest.main(verbosity=2)
