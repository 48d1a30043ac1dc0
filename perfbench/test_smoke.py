"""Smoke tests of the benchmark itself, on a tiny generated data set.

Run from the repository root:

  python3 -m unittest perfbench/test_smoke.py

The runs build the engine on first use, like the benchmark does. Scale
0.01 generates source tables of about the size of the engine's sf0.001
test data (1.5k orders, 6k lineitem rows).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

SCALE = "0.01"


def bench(*args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--scale", SCALE, "--seconds", "2", *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines, json.loads(lines[-1]) if lines else None


def plan(seed):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", "dml_mixed", "--seed", str(seed),
                        "--seconds", "10", "--scale", SCALE, "--plan-only"],
                       cwd=ROOT, capture_output=True, text=True, check=True)
    return [s["sql"] for s in json.loads(p.stdout)["statements"]]


class PlanTest(unittest.TestCase):
    def test_benchmark_json_names_the_printed_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]],
                         run.GATED)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.LAYER_UNITS)
        self.assertTrue({w["name"] for w in spec["workloads"]}
                        <= set(run.workloads.WORKLOADS))

    def test_same_seed_same_sequence(self):
        self.assertEqual(plan(7), plan(7))

    def test_other_seed_other_sequence(self):
        self.assertNotEqual(plan(7), plan(8))


def assert_all_printed(test, workload, lines):
    """Every end-to-end metric of the workload is printed with its unit, as
    a number or, for a tail with too few samples, as n/a."""
    text = "\n".join(lines)
    names = run.metric_names(workload)
    test.assertIn("peak_rss_mb", names)
    for name in names:
        unit = run.END_TO_END[name]
        value = r"(n/a|[-0-9.e+]+)" if name.endswith("_tail_s") \
            else r"[-0-9.e+]+"
        test.assertRegex(text, rf"\n  {name} +{value} {unit}\b")


class RunTest(unittest.TestCase):
    def test_every_metric_printed_with_unit(self):
        rc, lines, res = bench("--workload", "olap_read", "--seed", "1")
        self.assertEqual(rc, 0, lines)
        self.assertEqual(set(res), {"correct", "attempted", "failed",
                                    "metrics"})
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        for name, unit in run.GATED:
            self.assertEqual(res["metrics"][name]["unit"], unit)
            self.assertGreater(res["metrics"][name]["value"], 0)
        assert_all_printed(self, "olap_read", lines)

    def test_wrong_answer_counts_as_failure(self):
        rc, lines, res = bench("--workload", "dml_mixed", "--seed", "1",
                               "--inject-wrong", "0")
        self.assertEqual(rc, 0, lines)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        assert_all_printed(self, "dml_mixed", lines)
        self.assertRegex("\n".join(lines), r"error_rate +0\.0[0-9]+ ratio")


if __name__ == "__main__":
    unittest.main()
