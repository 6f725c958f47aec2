#!/usr/bin/env python3
"""Tests of the benchmark's own input generation and output stability.

    python3 bench/test_bench.py            # seeded-input digests (fast)
    BENCH_SLOW=1 python3 bench/test_bench.py   # also repeat full runs

The fast tests run the harness with --digest-only, which generates a
workload's inputs on the driver and prints their digest without starting
Spark. The slow test runs every workload twice with the same seed and
compares the output digests the runs print.
"""

import json
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(BENCH, "run.py")
WORKLOADS = ("puffy_reshape", "curate_corpus", "index_lifecycle")


def run(workload, seed, *extra):
    return subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "0", *extra],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=900)


def input_digest(workload, seed):
    r = run(workload, seed, "--digest-only")
    assert r.returncode == 0, r.stdout
    return json.loads(r.stdout.strip().splitlines()[-1])["input_digest"]


def output_digest(workload, seed):
    r = run(workload, seed)
    assert r.returncode == 0, r.stdout
    line = [l for l in r.stdout.splitlines() if l.startswith("output_digest=")]
    return line[-1].split("=", 1)[1]


class InputDigest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                self.assertEqual(input_digest(w, 7), input_digest(w, 7))

    def test_other_seed_other_inputs(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                self.assertNotEqual(input_digest(w, 7), input_digest(w, 8))


@unittest.skipUnless(os.environ.get("BENCH_SLOW") == "1", "set BENCH_SLOW=1")
class OutputDigest(unittest.TestCase):
    def test_same_seed_same_outputs(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                self.assertEqual(output_digest(w, 5), output_digest(w, 5))


if __name__ == "__main__":
    unittest.main()
