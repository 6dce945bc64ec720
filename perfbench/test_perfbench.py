#!/usr/bin/env python3
"""The benchmark's own tests, on sf0.001-sized inputs (--smoke).

    python3 -m unittest perfbench/test_perfbench.py

For each workload: a traced smoke run must pass every check and report
every per-layer metric; then one of its outputs is corrupted and the oracle
must notice. A directory holding only the benchmark must make run.py fail
fast without printing a result.
"""
import glob
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import run  # noqa: E402

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402


def smoke(workload, trace=1):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "2", "--trace", str(trace), "--smoke",
                        "--keep"], cwd=ROOT, capture_output=True, text=True, timeout=600)
    return p, json.loads(p.stdout.strip().splitlines()[-1])


def work(workload, *parts):
    return os.path.join(ROOT, ".bench_work", workload, *parts)


class SmokeTest(unittest.TestCase):
    def check_run(self, workload):
        p, res = smoke(workload)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-2000:])
        self.assertTrue(res["correct"])
        self.assertGreaterEqual(res["attempted"], 1)
        self.assertEqual(set(res["metrics"]), set(run.PER_LAYER))
        return res

    def test_ledger_dml(self):
        res = self.check_run("ledger_dml")
        self.assertGreater(res["metrics"]["tables.calls"]["value"], 0)
        # a wrong final snapshot must be caught by the replay
        inputs, check = work("ledger_dml", "inputs", "rep2"), work("ledger_dml", "run", "check")
        f = sorted(glob.glob(f"{check}/final/*.parquet"))[0]
        t = pq.read_table(f)
        pq.write_table(t.slice(1), f)
        self.assertTrue(any("final snapshot" in m for m in oracle.check_ledger(inputs, check)))

    def test_dashboard_scan(self):
        self.check_run("dashboard_scan")
        inputs, check = work("dashboard_scan", "inputs", "rep2"), work("dashboard_scan", "run", "check")
        reads = oracle.load_json(f"{check}/reads.json")
        reads[0]["result"] = "0|null|null|null"
        json.dump(reads, open(f"{check}/reads.json", "w"))
        self.assertTrue(oracle.check_dashboard(inputs, check))

    def test_curation_stream(self):
        res = self.check_run("curation_stream")
        self.assertGreater(res["metrics"]["streaming.triggers"]["value"], 0)
        inputs, check = work("curation_stream", "inputs", "rep2"), work("curation_stream", "run", "check")
        raw = work("curation_stream", "run", "rep2", "curation", "raw")
        meta = oracle.load_json(f"{inputs}/meta.json")
        # curating an injected exact duplicate must be caught
        pq.write_table(pa.table({"doc_id": pa.array(meta["exact_dups"][:1], pa.int64())}),
                       f"{check}/curated/extra.parquet")
        fails = oracle.check_curation(inputs, raw, check, meta)
        self.assertTrue(any("exact duplicates" in m for m in fails), fails)

    def test_refuses_without_sources(self):
        d = os.path.join(ROOT, ".bench_work", "bare")
        shutil.rmtree(d, ignore_errors=True)
        try:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__", "target"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ledger_dml",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(d)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(os.path.join(ROOT, ".bench_work"), ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
