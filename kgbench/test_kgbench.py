"""The benchmark's own tests: a tiny-scale run of every workload, untraced and
traced, must print every metric of BENCHMARK.json with its unit plus the
operation counts; a directory without the program must make it fail.

    python3 -m unittest kgbench/test_kgbench.py     # from the checkout root
"""
import json
import os
import shutil
import subprocess
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(cwd, workload, trace, timeout=400):
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "5", "--seconds", "1",
                             "--trace", str(trace), "--scale", "tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout)


class TinyRuns(unittest.TestCase):
    def check(self, workload, trace):
        p = run(ROOT, workload, trace)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        lines = p.stdout.strip().splitlines()
        out = json.loads(lines[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"])
        self.assertIsInstance(out["attempted"], int)
        self.assertGreaterEqual(out["attempted"], 1)
        want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual({m["name"]: m["unit"] for m in want},
                         {k: v["unit"] for k, v in out["metrics"].items()})
        for k, v in out["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)
        self.assertTrue(any(l.startswith("[kgbench") and " host nproc=" in l for l in lines))
        self.assertTrue(any(" operations workload=" in l for l in lines))
        return out

    def test_workloads(self):
        for w in SPEC["workloads"]:
            for trace in (0, 1):
                with self.subTest(workload=w["name"], trace=trace):
                    out = self.check(w["name"], trace)
                    if w["name"] != "stream_replay":
                        self.assertEqual(out["failed"], 0)


class IncompleteCheckout(unittest.TestCase):
    def test_fails_without_the_program(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for path in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, path), os.path.join(d, path),
                                ignore=shutil.ignore_patterns("target"))
            p = run(d, SPEC["workloads"][0]["name"], 0, timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)


if __name__ == "__main__":
    unittest.main()
