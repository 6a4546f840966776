#!/usr/bin/env python3
"""Self-tests of the benchmark harness.

    python3 perfbench/test_bench.py            # everything (~5 minutes)
    python3 perfbench/test_bench.py Fast       # no JVM runs (seconds)

The slow tests run each benchmark workload at a tiny size and check the
output contract: the last stdout line is one JSON object with exactly
`correct`, `attempted`, `failed` and `metrics`, every metric BENCHMARK.json
names is present with its unit, and a deliberately wrong expected result
is reported as a failure.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import trace_summary  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run_bench(*extra, cwd=ROOT, script=None):
    cmd = [sys.executable, script or os.path.join(BENCH, "run.py"), *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=900)


class Fast(unittest.TestCase):
    def test_inputs_follow_the_seed(self):
        with tempfile.TemporaryDirectory() as d:
            for name, seed in (("a", 3), ("b", 3), ("c", 4)):
                gen.generate(os.path.join(d, name), seed, 0.001)

            def content(name, table):
                with open(os.path.join(d, name, f"{table}.parquet"), "rb") as f:
                    return f.read()
            for t in checks.TABLES:
                self.assertEqual(content("a", t), content("b", t), t)
            self.assertNotEqual(content("a", "events"),
                                content("c", "events"))

    def test_self_time_subtracts_covered_children(self):
        spans = [
            {"id": 0, "parent": -1, "kind": "pass", "name": "pass 1",
             "start_ms": 0.0, "end_ms": 100.0},
            {"id": 1, "parent": 0, "kind": "query", "name": "q",
             "start_ms": 10.0, "end_ms": 30.0},
            {"id": 2, "parent": 0, "kind": "query", "name": "r",
             "start_ms": 20.0, "end_ms": 50.0},
        ]
        st = trace_summary.self_times(spans)
        self.assertEqual(st["pass"], [1, 100.0, 60.0])
        self.assertEqual(st["query"], [2, 50.0, 50.0])
        self.assertEqual(trace_summary.coverage(spans),
                         [("pass 1", 0.1, 0.5)])

    def test_oracle_compare_finds_differences(self):
        import pandas as pd
        got = pd.DataFrame({"k": ["a", "b"], "n": [1.0, 2.0]})
        self.assertIsNone(checks.compare(got, got[::-1].copy()))
        self.assertIn("rows", checks.compare(got, got.iloc[:1]))
        self.assertIn("float", checks.compare(
            got, pd.DataFrame({"k": ["a", "b"], "n": [1.0, 2.5]})))
        self.assertIn("type", checks.compare(
            got, pd.DataFrame({"k": ["a", "b"], "n": [1, 2]})))

    def test_refuses_a_directory_without_the_engine(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(
                                ".work", "target", "__pycache__"))
            r = run_bench("--workload", "reference_batch", "--seed", "1",
                          "--seconds", "1", "--trace", "0", cwd=d,
                          script=os.path.join(d, "perfbench", "run.py"))
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout.strip(), "")


class Slow(unittest.TestCase):
    """Tiny runs of every workload in BENCHMARK.json."""

    def result(self, *args):
        r = run_bench(*args)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        out = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed",
                                    "metrics"})
        self.assertGreaterEqual(out["attempted"], 1)
        return out

    def assert_metrics(self, out, kind):
        want = {m["name"]: m["unit"] for m in SPEC[kind]}
        got = {k: v["unit"] for k, v in out["metrics"].items()}
        self.assertEqual(got, want)
        for v in out["metrics"].values():
            self.assertIsInstance(v["value"], (int, float))

    def record(self, workload, trace):
        path = os.path.join(BENCH, ".work", "results",
                            f"{workload}-seed5-trace{trace}.json")
        with open(path) as fh:
            return json.load(fh)

    def tiny(self, workload):
        return (["--sf", "0.002", "--seconds", "1"]
                if workload != "stream_ingest" else ["--seconds", "2"])

    def test_every_workload(self):
        for w in (w["name"] for w in SPEC["workloads"]):
            with self.subTest(workload=w, trace=0, wrong_expected=True):
                out = self.result("--workload", w, "--seed", "5",
                                  "--trace", "0", "--wrong-expected",
                                  *self.tiny(w))
                self.assert_metrics(out, "end_to_end")
                self.assertFalse(out["correct"])
                self.assertGreaterEqual(out["failed"], 1)
                for v in out["metrics"].values():
                    self.assertGreater(v["value"], 0)
            with self.subTest(workload=w, trace=1):
                out = self.result("--workload", w, "--seed", "5",
                                  "--trace", "1", *self.tiny(w))
                self.assert_metrics(out, "per_layer")
                self.assertTrue(out["correct"])
                self.assertEqual(out["failed"], 0)
                rec = self.record(w, 1)
                queries = rec.get("queries", [])
                for m in SPEC["per_layer"]:
                    if checks.applies(m["name"], w, queries):
                        self.assertIn(m["name"], rec["metrics"], m["name"])
                if w != "stream_ingest":
                    self.assertGreaterEqual(
                        out["metrics"]["trace.pass_coverage"]["value"], 0.9)
                else:
                    for j in ("j1", "j2", "j3", "j4"):
                        self.assertGreater(
                            out["metrics"][f"{j}.rows_dropped"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
