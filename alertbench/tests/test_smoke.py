"""Smoke test of the benchmark command at tiny sizes.

Runs every workload (including the harness-only flaky_sink) through
`alertbench/run.py` and checks that the last line of standard output is one
JSON object carrying `correct`, `attempted`, `failed` and every metric of
BENCHMARK.json with its unit. A run with `--corrupt 1` falsifies one output
per output check before checking; every check must report its violation.

Run from the repository root:

    python3 -m unittest discover -s alertbench/tests -v
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join(ROOT, "alertbench", "run.py")
WORKLOADS = ["backlog_drain", "steady_rate", "flaky_sink"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


# tags of the output checks, as the run logs their violations
CHECKS = ["[coverage]", "[batch cap]", "[cw region]", "[cw order]", "[dd points]", "[meta]"]


def bench(workload, trace=0, corrupt=0, with_log=False):
    res = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "5",
         "--trace", str(trace), "--tiny", "1", "--corrupt", str(corrupt)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900)
    if res.returncode != 0:
        raise AssertionError(f"exit {res.returncode}\n{res.stderr[-4000:]}")
    result = json.loads(res.stdout.strip().splitlines()[-1])
    return (result, res.stderr) if with_log else result


class Smoke(unittest.TestCase):
    def assert_shape(self, result, metrics):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertIsInstance(result["attempted"], int)
        self.assertIsInstance(result["failed"], int)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in metrics})
        for m in metrics:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])

    def test_every_workload_reports_every_end_to_end_metric(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r = bench(w)
                self.assert_shape(r, SPEC["end_to_end"])
                self.assertTrue(r["correct"])
                self.assertEqual(r["failed"], 0)

    def test_traced_run_reports_every_layer_metric(self):
        r = bench("flaky_sink", trace=1)
        self.assert_shape(r, SPEC["per_layer"])
        self.assertEqual(r["failed"], 0)
        self.assertGreater(r["metrics"]["delivery.narrowed_resubmits"]["value"], 0)

    def test_every_output_check_catches_a_corrupted_output(self):
        # traced: steady_rate's traced run adds the meta query, so the meta
        # check runs too
        r, log = bench("steady_rate", trace=1, corrupt=1, with_log=True)
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], len(CHECKS))
        violations = [l for l in log.splitlines() if "[alertbench] check: " in l and " × [" in l]
        for tag in CHECKS:
            self.assertTrue(any(tag in v for v in violations), f"{tag} caught nothing:\n" + "\n".join(violations))


if __name__ == "__main__":
    unittest.main()
