"""Self-check of the benchmark: every workload at sf0.001 with a short run,
untraced and traced, must pass its correctness gate and emit exactly the
metrics BENCHMARK.json declares.

Run from the root of a checkout: python3 perfbench/test_perfbench.py
(the first run builds the engine, so allow several minutes).
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        stdout=subprocess.PIPE, text=True, check=True, timeout=900)
    return json.loads(out.stdout.strip().splitlines()[-1])


class SelfCheck(unittest.TestCase):
    def test_declared_workloads_exist(self):
        self.assertEqual(sorted(w["name"] for w in SPEC["workloads"]), sorted(run.WORKLOADS))

    def test_every_metric_is_emitted(self):
        for workload in run.WORKLOADS:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=workload, trace=trace):
                    res = bench(workload, trace)
                    self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    declared = {m["name"]: m["unit"] for m in SPEC[key]}
                    got = {k: v["unit"] for k, v in res["metrics"].items()}
                    self.assertEqual(got, declared)
                    for name, m in res["metrics"].items():
                        self.assertIsInstance(m["value"], (int, float), name)
                    if trace:
                        # construct + plan + exec accounts for each traced pass's wall.
                        with open(os.path.join(HERE, "..", ".bench_build", "results",
                                               f"{workload}-s3-t1.json")) as f:
                            saved = json.load(f)
                        for p in saved["result"]["passes"]:
                            if p["traced"]:
                                layers = sum(r["construct_s"] + r["plan_s"] + r["exec_s"]
                                             for r in p["ops"])
                                self.assertAlmostEqual(layers / p["wall_s"], 1.0, delta=0.05)


if __name__ == "__main__":
    unittest.main()
