#!/usr/bin/env python3
"""Smoke test of the benchmark harness at tiny scale.

    python3 perfbench/test_smoke.py

Runs every workload once untraced and once traced with --smoke (sf0.001
gate tables, 2000 raw users) and asserts that each run is correct, emits
every metric BENCHMARK.json names with its unit, and ran its correctness
checks: a digest per gate operation, or every layer's row counts per
medallion pass; a traced run must also attribute work to each layer its
workload runs. Takes about five minutes on four cores.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
sys.dont_write_bytecode = True
import run  # noqa: E402


def bench(workload, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise AssertionError(f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
    name = f"{workload}-seed7-trace{trace}-smoke.json"
    with open(os.path.join(ROOT, ".bench_build", "results", name)) as f:
        return json.loads(lines[-1]), json.load(f)


OWN_LAYERS = {
    "medallion_daily": ["runner.attempts", "bronze.jobs", "bronze.cpu_s", "silver.jobs",
                        "silver.cpu_s", "gold.jobs", "gold.cpu_s"],
    "lsh_dedup": ["dedup.jobs", "dedup.tasks", "dedup.cpu_s"],
    "txlog_dml": ["txlog.jobs", "txlog.rows_written", "streaming.batches",
                  "streaming.addbatch_s"],
}


class Smoke(unittest.TestCase):

    def check(self, workload, trace):
        end_to_end, per_layer = run.declared_metrics()
        want = per_layer if trace else end_to_end
        line, record = bench(workload, trace)
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(line["correct"])
        self.assertEqual(line["failed"], 0)
        self.assertGreaterEqual(line["attempted"], 1)
        self.assertEqual({k: v["unit"] for k, v in line["metrics"].items()}, want)
        for k, v in line["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)
        names = [c["name"] for c in record["checks"]]
        self.assertTrue(all(c["ok"] for c in record["checks"]))
        if workload == "medallion_daily":
            passes = [p["index"] for p in record["passes"]] + [-1]
            for i in passes:
                for layer in ("bronze", "rejects", "silver", "gold"):
                    self.assertTrue(any(n.startswith(f"pass{i}.{layer}.") for n in names),
                                    f"no {layer} row-count check for pass {i}")
            if trace:
                self.assertTrue(any(n.endswith("spans_match_runner") for n in names))
        else:
            self.assertGreaterEqual(sum(n.startswith("digest.") for n in names), 2)
        if trace:
            # a layer the workload runs must have work attributed to it
            for k in OWN_LAYERS[workload]:
                self.assertGreater(line["metrics"][k]["value"], 0, k)
            self.assertTrue(any(p["traced"] for p in record["passes"]))
            self.assertTrue(any(not p["traced"] for p in record["passes"]))
            self.assertTrue(record["spans"])

    def test_medallion_daily(self):
        self.check("medallion_daily", 0)
        self.check("medallion_daily", 1)

    def test_lsh_dedup(self):
        self.check("lsh_dedup", 0)
        self.check("lsh_dedup", 1)

    def test_txlog_dml(self):
        self.check("txlog_dml", 0)
        self.check("txlog_dml", 1)

    def test_refuses_without_sources(self):
        """In a directory holding only BENCHMARK.json and perfbench/, the
        command fails without printing a result."""
        bare = os.path.join(ROOT, ".bench_build", "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        try:
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "lsh_dedup",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=bare, capture_output=True, text=True, timeout=180)
        finally:
            shutil.rmtree(bare, ignore_errors=True)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
