#!/usr/bin/env python3
"""The benchmark's own tests: the seed only permutes the query order, so
digests do not depend on it, and a wrong expected digest is reported as a
failed query.

    python3 perfbench/test_perfbench.py
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOAD = "graph_iter"


def run(seed, *extra):
    """Runs the benchmark; returns its result line."""
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", WORKLOAD,
         "--seed", str(seed), "--seconds", "1", "--trace", "0", *extra],
        cwd=ROOT, capture_output=True, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


class SeedTest(unittest.TestCase):
    def test_digests_do_not_depend_on_the_seed(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as tmp:
            digests = []
            for seed in (1, 2):
                path = os.path.join(tmp, f"report-{seed}.json")
                result = run(seed, "--report-out", path)
                self.assertTrue(result["correct"])
                self.assertEqual(result["failed"], 0)
                with open(path) as fh:
                    passes = json.load(fh)["passes"]
                digests += [{q["name"]: (q["rows"], q["hash"]) for q in p["queries"]}
                            for p in passes]
            for d in digests[1:]:
                self.assertEqual(d, digests[0])

    def test_a_corrupted_expected_digest_fails(self):
        with open(os.path.join(BENCH, "expected", f"{WORKLOAD}.json")) as fh:
            expected = json.load(fh)
        name = next(k for k, v in sorted(expected.items()) if v["hash"] is not None)
        expected[name]["hash"] += 1
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as tmp:
            path = os.path.join(tmp, "expected.json")
            with open(path, "w") as fh:
                json.dump(expected, fh)
            result = run(1, "--expected", path)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertLess(result["failed"], result["attempted"])


if __name__ == "__main__":
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    unittest.main()
