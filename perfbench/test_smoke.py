#!/usr/bin/env python3
"""Smoke test of the benchmark on the sf0.001 tables.

    python3 perfbench/test_smoke.py

Runs every workload once untraced and once traced in smoke mode and checks
the result line against BENCHMARK.json: the metric names and units and the
oracle verdict. On the traced run's spans it checks the job attribution:
every job belongs to a query phase, and the driver gap, recomputed phase by
phase from the spans, matches the reported one. Also checks that the
benchmark refuses to run, without printing a result, in a directory that
holds only BENCHMARK.json and the benchmark's own files.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
sys.path.insert(0, str(HERE))
from run import WORKLOADS  # noqa: E402


def merged_len(intervals):
    """Length of the union of [a, b) intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is not None and a < end:
            total += max(0, b - end)
            end = max(end, b)
        else:
            total += b - a
            end = b
    return total


def bench(*args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=900)


class SmokeTest(unittest.TestCase):

    def check(self, workload, trace):
        p = bench("--smoke", "--workload", workload, "--seed", "7",
                  "--seconds", "1", "--trace", str(trace))
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], p.stdout)
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        wanted = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual({m["name"]: m["unit"] for m in wanted},
                         {k: v["unit"] for k, v in result["metrics"].items()})
        return result["metrics"]

    def test_workloads(self):
        self.assertEqual({w["name"] for w in SPEC["workloads"]}, set(WORKLOADS))
        for name in WORKLOADS:
            with self.subTest(workload=name):
                m = self.check(name, 0)
                self.assertGreater(m["setup_s"]["value"], 0)
                self.assertGreater(m["pass_adj_s"]["value"], 0)
                t = self.check(name, 1)
                self.assertGreater(t["sched.jobs"]["value"], 0)
                self.check_spans(name, t)

    def check_spans(self, name, metrics):
        trace = ROOT / ".perfbench" / "runs" / f"{name}-seed7-trace1" / "trace.json"
        spans = [json.loads(ln) for ln in trace.read_text().splitlines()]
        by_id = {s["id"]: s for s in spans}
        passes = [s for s in spans if s["kind"] == "pass"]
        phases = [s for s in spans if s["kind"] in ("build", "plan", "execute")]
        jobs = [s for s in spans if s["kind"] == "job"]
        # nesting: pass -> query -> phase -> job -> stage
        for s in spans:
            parent = by_id.get(s["parent"], {}).get("kind")
            want = {"pass": None, "query": "pass", "build": "query", "plan": "query",
                    "execute": "query", "job": "phase", "stage": "job"}[s["kind"]]
            if want == "phase":
                self.assertIn(parent, ("build", "plan", "execute"), s)
                ph = by_id[s["parent"]]
                self.assertTrue(ph["start_ms"] <= s["start_ms"] <= s["end_ms"] <= ph["end_ms"], (s, ph))
            else:
                self.assertEqual(parent, want, s)
        # the gap, recomputed from the phase spans: each phase's wall minus
        # its own jobs' union, plus the pass time outside any query
        gap = 0
        for p in passes:
            gap += p["end_ms"] - p["start_ms"]
            for ph in phases:
                if by_id[ph["parent"]]["parent"] == p["id"]:
                    gap -= merged_len([(j["start_ms"], j["end_ms"]) for j in jobs if j["parent"] == ph["id"]])
        self.assertAlmostEqual(gap / 1e3 / len(passes), metrics["sched.driver_gap_s"]["value"], places=6)

    def test_refuses_without_sources(self):
        bare = ROOT / ".perfbench" / "bare"
        shutil.rmtree(bare, ignore_errors=True)
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for d in SPEC["paths"]:
            shutil.copytree(ROOT / d, bare / d, ignore=shutil.ignore_patterns("target", "project/target"))
        p = bench("--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                  "--seconds", "1", "--trace", "0", cwd=bare)
        shutil.rmtree(bare)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"metrics"', p.stdout)


if __name__ == "__main__":
    unittest.main()
