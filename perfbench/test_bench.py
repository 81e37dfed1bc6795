#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/test_bench.py            # from the checkout root

Runs every workload once in smoke mode (tiny tables, one set-up, a
one-second measure) and checks the result line against BENCHMARK.json;
checks that a directory without the engine's sources fails fast; and
checks compare.py's verdicts on made-up runs. A broken workload fails
here in about a minute instead of in a full run.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join(HERE, "run.py")]

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def last_json(stdout):
    return json.loads(stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    def run_smoke(self, workload, trace):
        p = subprocess.run(RUN + ["--workload", workload, "--seed", "7", "--seconds", "1",
                                  "--trace", str(trace), "--smoke"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        r = last_json(p.stdout)
        self.assertEqual(sorted(r), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(r["correct"], p.stdout[-3000:])
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        spec = BENCH["per_layer" if trace else "end_to_end"]
        self.assertEqual(sorted(r["metrics"]), sorted(m["name"] for m in spec))
        for m in spec:
            got = r["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertIsInstance(got["value"], (int, float), m["name"])
            if not trace:
                self.assertGreater(got["value"], 0, m["name"])
        return r

    def test_every_workload_end_to_end(self):
        # `analytics` is not in BENCHMARK.json but runs by hand
        for w in [w["name"] for w in BENCH["workloads"]] + ["analytics"]:
            with self.subTest(workload=w):
                self.run_smoke(w, 0)

    def test_traced_run_reports_layers(self):
        r = self.run_smoke("analytics", 1)
        m = {k: v["value"] for k, v in r["metrics"].items()}
        self.assertGreater(m["queries.construct_s"], 0)
        self.assertGreater(m["exec.jobs"], 0)


class FailsFast(unittest.TestCase):
    def test_without_engine_sources(self):
        d = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "serve",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(d)


class Compare(unittest.TestCase):
    def write(self, d, name, values, correct):
        path = os.path.join(d, name)
        with open(path, "w") as f:
            for v in values:
                metrics = {m["name"]: {"value": v, "unit": m["unit"]} for m in BENCH["end_to_end"]}
                f.write("perfbench detail: " + json.dumps({"workload": "serve", "trace": 0}) + "\n")
                f.write(json.dumps({"correct": correct, "attempted": 10, "failed": 0 if correct else 1,
                                    "metrics": metrics}) + "\n")
        return path

    def compare(self, parent, change, change_correct=True):
        d = tempfile.mkdtemp()
        try:
            p = subprocess.run([sys.executable, os.path.join(HERE, "compare.py"),
                                self.write(d, "a", parent, True),
                                self.write(d, "b", change, change_correct)],
                               cwd=ROOT, stdout=subprocess.PIPE, text=True)
            return p.returncode, p.stdout
        finally:
            shutil.rmtree(d)

    def test_same_runs_are_ok(self):
        code, out = self.compare([10.0, 10.1, 9.9, 10.0], [10.0, 10.05, 9.95, 10.0])
        self.assertEqual(code, 0, out)
        self.assertNotIn("WORSE", out)

    def test_much_slower_is_worse(self):
        code, out = self.compare([10.0, 10.1, 9.9, 10.0], [20.0, 20.1, 19.9, 20.0])
        self.assertEqual(code, 1)
        self.assertIn("WORSE", out)

    def test_incorrect_change_is_worse(self):
        code, out = self.compare([10.0, 10.1, 9.9, 10.0], [10.0, 10.1, 9.9, 10.0],
                                 change_correct=False)
        self.assertEqual(code, 1, out)
        self.assertIn("0 correct, 4 incorrect, 4/40 ops failed", out)
        self.assertIn("a side has no correct run", out)

    def test_wide_spread_is_unresolved(self):
        code, out = self.compare([10.0, 15.0, 5.0, 10.0], [10.0, 15.0, 5.0, 10.0])
        self.assertIn("unresolved", out)


if __name__ == "__main__":
    unittest.main()
