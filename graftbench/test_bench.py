"""Smoke tests of the graft benchmark at tiny scale (sf0.001, 2 s runs).

For each workload of BENCHMARK.json they check that
  * every metric BENCHMARK.json names is printed, with its unit;
  * two seeds give different inputs but the same metric set;
  * a deliberately wrong expected result is reported as a failure.

Run from the checkout root (each run builds and starts an engine JVM, so
the suite takes several minutes):

    python3 -m unittest graftbench/test_bench.py
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
sys.path.insert(0, HERE)
import build  # noqa: E402


def bench(workload, seed, trace, *extra):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "2", "--trace", str(trace),
                        "--scale", "0.001"] + list(extra),
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(f"run.py exited {r.returncode}: {r.stderr[-2000:]}")
    out = json.loads(r.stdout.strip().splitlines()[-1])
    with open(os.path.join(build.build_dir(), "results",
                           f"{workload}-seed{seed}-trace{trace}.json")) as f:
        detail = json.load(f)
    return out, detail, r.stderr


class WorkloadSmoke:
    workload = None

    def check_metrics(self, out, kind):
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(out["attempted"], 1)
        want = {m["name"]: m["unit"] for m in SPEC[kind]}
        self.assertEqual(set(out["metrics"]), set(want))
        for name, m in out["metrics"].items():
            self.assertEqual(m["unit"], want[name], name)
            self.assertIsInstance(m["value"], float, name)

    def test_seeds_change_inputs_not_metric_set(self):
        a, da, _ = bench(self.workload, 1, 0)
        b, db, _ = bench(self.workload, 2, 0)
        self.check_metrics(a, "end_to_end")
        self.check_metrics(b, "end_to_end")
        self.assertNotEqual(da["inputs"], db["inputs"])
        for out in (a, b):
            for name, m in out["metrics"].items():
                self.assertGreater(m["value"], 0, name)

    def test_wrong_expected_result_is_a_failure(self):
        out, detail, err = bench(self.workload, 3, 1, "--corrupt-expected")
        self.check_metrics(out, "per_layer")
        self.assertFalse(out["correct"])
        self.assertGreaterEqual(out["failed"], 1)
        self.assertIn("FAILED", err)
        self.assertGreater(out["metrics"]["error_rate"]["value"], 0)


class RegistryBoardSmoke(WorkloadSmoke, unittest.TestCase):
    workload = "registry_board"


class HttpMixedSmoke(WorkloadSmoke, unittest.TestCase):
    workload = "http_mixed"


if __name__ == "__main__":
    unittest.main()
