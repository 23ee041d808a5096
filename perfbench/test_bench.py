#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 perfbench/test_bench.py            # all, about 3 minutes
    python3 perfbench/test_bench.py Offline    # the tests that start no JVM

The end-to-end tests run each workload for one second and parse the last
stdout line the way a caller would.
"""
import json
import os
import re
import statistics
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Offline(unittest.TestCase):
    def test_benchmark_json_shape(self):
        b = bench()
        self.assertEqual(set(b), {"command", "paths", "run_seconds",
                                  "workloads", "end_to_end", "per_layer"})
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        workloads = run.load_json("workloads.json")["workloads"]
        self.assertEqual([w["name"] for w in b["workloads"]],
                         list(workloads))
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        names += [w["name"] for w in b["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertLessEqual(m["bound"], 0.25)
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"],
                         max(m["bound"] for m in b["end_to_end"]))

    def test_expected_rows_cover_every_key(self):
        expected = run.load_json("expected_rows.json")
        for w in run.load_json("workloads.json")["workloads"].values():
            if w["mode"] == "queries":
                self.assertEqual(set(w["keys"]), set(expected[w["data"]]))

    def test_late_rows_are_behind_the_filtering_watermark(self):
        import pyarrow.parquet as pq
        spec = run.load_json("workloads.json")["workloads"]["ingest-stream"]
        events = os.path.join(run.DATA, "sf0.1", "events.parquet")
        with tempfile.TemporaryDirectory() as d:
            late, _ = run.stage_chunks(events, d, spec, seed=5)
            again, _ = run.stage_chunks(events, d + "/again", spec, seed=5)
            self.assertEqual(late, again)
            self.assertEqual(len(set(late)), len(late))
            self.assertGreater(len(late), spec["late_rows"] // 2)
            chunks = [pq.read_table(os.path.join(d, f"chunk-{i:03d}.parquet"))
                      for i in range(spec["chunks"])]
            total = sum(c.num_rows for c in chunks)
            self.assertEqual(total, 100000 + spec["duplicate_rows"])
            maxes = [max(c["ts_us"].to_pylist()) for c in chunks]
            lateset = set(late)
            for i, c in enumerate(chunks):
                for eid, ts in zip(c["event_id"].to_pylist(),
                                   c["ts_us"].to_pylist()):
                    if eid in lateset:
                        self.assertGreaterEqual(i, 2)
                        self.assertLess(ts, max(maxes[:i - 1]) - 600_000_000)

    def test_statistics(self):
        self.assertAlmostEqual(run.geomean([1, 100]), 10)
        self.assertEqual(statistics.quantiles([1, 2, 3, 4], n=4)[1], 2.5)


class EndToEnd(unittest.TestCase):
    def run_bench(self, workload, trace):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", "1", "--seconds", "1", "--trace",
             str(trace)], cwd=ROOT, stdout=subprocess.PIPE, text=True,
            timeout=900)
        self.assertEqual(p.returncode, 0)
        return json.loads(p.stdout.strip().splitlines()[-1])

    def check(self, workload):
        b = bench()
        for trace, group in ((0, "end_to_end"), (1, "per_layer")):
            s = self.run_bench(workload, trace)
            self.assertEqual(set(s), {"correct", "attempted", "failed",
                                      "metrics"})
            self.assertTrue(s["correct"], s)
            self.assertEqual(s["failed"], 0)
            self.assertGreaterEqual(s["attempted"], 1)
            want = {m["name"]: m["unit"] for m in b[group]}
            self.assertEqual(list(s["metrics"]), list(want))
            for n, m in s["metrics"].items():
                self.assertEqual(set(m), {"value", "unit"})
                self.assertEqual(m["unit"], want[n])
                self.assertIsInstance(m["value"], float)
            if group == "end_to_end":
                for n, m in s["metrics"].items():
                    self.assertGreater(m["value"], 0, n)

    def test_multipass(self):
        self.check("multipass-sf0.1")

    def test_ingest(self):
        self.check("ingest-stream")

    def test_timed_section_is_build_plan_execute(self):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--selftest"], cwd=ROOT, stdout=subprocess.PIPE,
                           text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stdout)
        self.assertNotIn("FAIL", p.stdout)

    def test_fails_without_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            subprocess.run(["cp", "-r", HERE, os.path.join(ROOT,
                            "BENCHMARK.json"), d], check=True)
            for junk in ("out", "target", os.path.join("project", "target")):
                subprocess.run(["rm", "-rf", os.path.join(d, "perfbench",
                                                          junk)], check=True)
            p = subprocess.run([sys.executable, "perfbench/run.py",
                                "--workload", "ingest-stream", "--seed", "1",
                                "--seconds", "1", "--trace", "0"], cwd=d,
                               stdout=subprocess.PIPE, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
