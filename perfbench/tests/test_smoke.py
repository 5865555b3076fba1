"""Tiny-scale smoke run of every workload through the real entry point (both
tracing modes for one of them). Builds into .bench_build/ on first use; run
from the repository root:

    python3 -m unittest perfbench/tests/test_smoke.py
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.abspath(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".."))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def bench(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    def check(self, line, kind):
        self.assertTrue(line["correct"])
        self.assertEqual(line["failed"], 0)
        self.assertGreaterEqual(line["attempted"], 1)
        want = {m["name"]: m["unit"] for m in SPEC[kind]}
        self.assertEqual({k: v["unit"] for k, v in line["metrics"].items()}, want)

    def test_every_workload_untraced(self):
        self.assertLessEqual({w["name"] for w in SPEC["workloads"]}, set(run.WORKLOADS))
        for w in run.WORKLOADS:
            with self.subTest(workload=w):
                self.check(bench(w, 0), "end_to_end")

    def test_traced_run_reports_layers(self):
        self.check(bench("collab_spread", 1), "per_layer")


if __name__ == "__main__":
    unittest.main()
