#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 perfbench/test_bench.py

Each workload runs as the benchmark runs it, with `--seconds 1` (one timed
rep), at seed 0 with tracing off and on; the result line must be correct
and carry exactly the metrics BENCHMARK.json declares, with their units.
perfbench/expected.tsv must cover every input a seed can pick. A copy of
the benchmark without the program must fail without printing a result.
Takes about four minutes on a 4-core machine.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True, timeout=900)


class BenchTest(unittest.TestCase):

    def check(self, workload, trace):
        p = run("--workload", workload, "--seed", "0", "--seconds", "1",
                "--trace", str(trace))
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], p.stderr[-3000:])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        declared = SPEC["per_layer" if trace else "end_to_end"]
        self.assertEqual({m["name"]: m["unit"] for m in declared},
                         {k: v["unit"] for k, v in result["metrics"].items()})
        if not trace:
            for name, m in result["metrics"].items():
                self.assertGreater(m["value"], 0, name)
        return result

    def test_run_staged(self):
        self.check("run_staged", 0)

    def test_run_staged_traced(self):
        m = self.check("run_staged", 1)["metrics"]
        self.assertGreater(m["operators.sameas.canon_rows"]["value"], 0)
        self.assertAlmostEqual(m["trace.coverage"]["value"], 1.0, delta=0.05)

    def test_query_warm(self):
        self.check("query_warm", 0)

    def test_query_warm_traced(self):
        m = self.check("query_warm", 1)["metrics"]
        self.assertGreater(m["io.export.nt_s"]["value"], 0)
        self.assertGreater(m["streaming.batches"]["value"], 0)
        self.assertAlmostEqual(m["trace.coverage"]["value"], 1.0, delta=0.05)

    def test_expected_covers_every_input(self):
        names = {}
        with open(os.path.join(ROOT, "perfbench", "expected.tsv")) as f:
            for line in f:
                if not line.startswith("#"):
                    m, name, _, _ = line.rstrip("\n").split("\t")
                    names.setdefault(int(m), set()).add(name)
        self.assertEqual(sorted(names), list(range(20)))
        for m in names:
            self.assertEqual(names[m], names[0], m)

    def test_without_program_fails(self):
        bare = os.path.join(ROOT, ".bench_build", "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for path in SPEC["paths"]:
            shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path))
        p = run("--workload", "run_staged", "--seed", "0", "--seconds", "1",
                "--trace", "0", cwd=bare)
        shutil.rmtree(bare)
        self.assertNotEqual(p.returncode, 0)
        self.assertNotIn('"metrics"', p.stdout)


if __name__ == "__main__":
    unittest.main(verbosity=2)
