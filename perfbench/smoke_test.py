#!/usr/bin/env python3
"""Tiny-size smoke test of the benchmark: every workload, untraced and
traced, must pass its output checks and print exactly the metrics that
BENCHMARK.json declares; a directory without the program must make the
benchmark fail without printing a result.

    python3 perfbench/smoke_test.py        (from the root of a checkout)
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.getcwd()
TINY_ROWS = {"quality_filter": 1500, "ann_topk": 1000}


def run(cwd, *args):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=600)


class Smoke(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            cls.bench = json.load(fh)

    def check_run(self, workload, trace):
        p = run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
                "--trace", str(trace), "--rows", str(TINY_ROWS[workload]))
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        r = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"], p.stderr[-3000:])
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertEqual(r["failed"], 0)
        declared = self.bench["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(r["metrics"]), {m["name"] for m in declared})
        for m in declared:
            self.assertEqual(r["metrics"][m["name"]]["unit"], m["unit"])
        return r["metrics"]

    def test_untraced(self):
        for w in TINY_ROWS:
            with self.subTest(workload=w):
                m = self.check_run(w, 0)
                for name, v in m.items():
                    self.assertGreater(v["value"], 0, name)

    def test_traced(self):
        for w in TINY_ROWS:
            with self.subTest(workload=w):
                m = self.check_run(w, 1)
                v = {k: x["value"] for k, x in m.items()}
                if w == "quality_filter":
                    self.assertEqual(v["kernel.url_filter.docs_in"], TINY_ROWS[w])
                    self.assertGreater(v["scaling.eff_1v4"], 0)
                if w == "ann_topk":
                    self.assertGreaterEqual(v["ann.lsh.recall_at_1"], 0.9)
                    self.assertGreaterEqual(v["ann.ivf.recall_at_1"], 0.9)
                    # the dedup chain's layers ride in this traced run
                    self.assertGreater(v["dedup.minhash.edges"], 0)
                    for p in ("exact_dedup", "url_dedup", "minhash_dedup", "sentence_dedup", "exact_substr"):
                        self.assertGreater(v[f"dedup.{p}.rows_in"], v[f"dedup.{p}.rows_out"], p)

    def test_fails_without_program(self):
        build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
        os.makedirs(build_dir, exist_ok=True)
        bare = tempfile.mkdtemp(dir=build_dir)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            for path in self.bench["paths"]:
                shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                                ignore=shutil.ignore_patterns("target"))
            p = run(bare, "--workload", "ann_topk", "--seed", "1", "--seconds", "1", "--trace", "0")
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(bare)


if __name__ == "__main__":
    unittest.main()
