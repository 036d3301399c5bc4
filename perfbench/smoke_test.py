#!/usr/bin/env python3
"""Smoke test of the benchmark: the two timed passes that every run makes
at least, of every workload on the sf0.001 corpus, untraced and traced (a
traced run traces the second). Asserts that each run's last line names
every metric that BENCHMARK.json declares for its mode, with the declared
unit, that the line before it states the sample count, and that no query
failed.

Usage (from the repository root): python3 perfbench/smoke_test.py
"""
import json
import math
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "perfbench"))
from run import WORKLOADS  # noqa: E402

DECLARED = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", str(trace), "--data", "sf0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {out.returncode}:\n{out.stderr[-3000:]}")
    info, result = out.stdout.strip().splitlines()[-2:]
    return json.loads(info), json.loads(result)


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace):
        info, result = run(workload, trace)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], info)
        self.assertEqual(result["failed"], 0, info)
        keys = WORKLOADS[workload]
        self.assertEqual(result["attempted"], len(keys) * 2)
        self.assertEqual(info["latency_samples"], result["attempted"])
        self.assertEqual(set(info["per_key"]), {f"query.{k}.p50_s" for k in keys})
        declared = DECLARED["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(result["metrics"]), {m["name"] for m in declared})
        for m in declared:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertTrue(math.isfinite(got["value"]), m["name"])
        if trace:
            self.assertEqual(result["metrics"]["failed_share"]["value"], 0)
            self.assertEqual(result["metrics"]["latency.samples"]["value"], result["attempted"])
        else:
            for m in declared:
                self.assertGreater(result["metrics"][m["name"]]["value"], 0, m["name"])


for _w in WORKLOADS:
    for _t in (0, 1):
        setattr(SmokeTest, f"test_{_w}_trace{_t}",
                lambda self, w=_w, t=_t: self.check(w, t))


if __name__ == "__main__":
    unittest.main()
