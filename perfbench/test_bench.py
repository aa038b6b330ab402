#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 perfbench/test_bench.py

They build the program like a benchmark run does, then check that a seed
fixes the inputs and the ops a run actually executes, that a seed other
than the ones the benchmark was tuned on passes every output check, and
that each run prints every metric BENCHMARK.json names, with its unit.
"""
import json
import os
import re
import subprocess
import sys
import unittest

RUN = [sys.executable, os.path.join("perfbench", "run.py")]
WORKLOADS = ("olap_serve", "realtime_ingest", "curate_batch")


def run(*args):
    p = subprocess.run(RUN + list(args), capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"run.py {' '.join(args)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return p.stdout.strip().splitlines()


def short_run(workload, seed):
    """Result JSON, input digest and per-op digests of a 2-s untraced run."""
    lines = run("--workload", workload, "--seed", str(seed), "--seconds", "2", "--trace", "0")

    def tagged(tag):
        pat = re.compile(rf"^perfbench {tag} {workload} seed {seed}: ?(.*)$")
        return next(m.group(1) for m in map(pat.match, lines) if m)

    return json.loads(lines[-1]), tagged("inputs"), tagged("ops").split()


class BenchTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open("BENCHMARK.json") as fh:
            cls.spec = json.load(fh)
        # seed 7 twice and seed 2 once per workload
        cls.runs = {(w, s, k): short_run(w, s)
                    for w in WORKLOADS for s, k in ((7, 0), (7, 1), (2, 0))}

    def check_metrics(self, res, declared):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        want = {m["name"]: m["unit"] for m in declared}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        self.assertEqual(got, want)
        for v in res["metrics"].values():
            self.assertIsInstance(v["value"], (int, float))

    def test_same_seed_same_ops_and_inputs(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                _, in_a, ops_a = self.runs[(w, 7, 0)]
                _, in_b, ops_b = self.runs[(w, 7, 1)]
                _, in_c, ops_c = self.runs[(w, 2, 0)]
                n = min(len(ops_a), len(ops_b))
                self.assertGreaterEqual(n, 1)
                self.assertEqual(ops_a[:n], ops_b[:n])
                self.assertEqual(in_a, in_b)
                self.assertNotEqual(ops_a[0], ops_c[0])
                if w != "realtime_ingest":  # it streams its inputs inside the ops
                    self.assertNotEqual(in_a, in_c)

    def test_second_seed_passes_every_check(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]], list(WORKLOADS))
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res = self.runs[(w, 2, 0)][0]
                self.assertTrue(res["correct"], res)
                self.assertEqual(res["failed"], 0)
                self.assertGreaterEqual(res["attempted"], 1)
                self.check_metrics(res, self.spec["end_to_end"])
                for m in self.spec["end_to_end"]:
                    self.assertGreater(res["metrics"][m["name"]]["value"], 0, m["name"])

    def test_traced_run_lists_every_layer_metric(self):
        res = json.loads(run("--workload", "realtime_ingest", "--seed", "3", "--seconds", "4",
                             "--trace", "1")[-1])
        self.assertTrue(res["correct"], res)
        self.check_metrics(res, self.spec["per_layer"])
        self.assertGreater(res["metrics"]["streaming.trigger_ms"]["value"], 0)


if __name__ == "__main__":
    unittest.main(verbosity=2)
