#!/usr/bin/env python3
"""Tests for the benchmark itself. Run from the root of a checkout:

    python3 perfbench/test_run.py

* the generators are deterministic: one seed gives byte-identical files;
* a real run of each workload, piped through `tail -c 2000`, still ends
  in a parseable result line that carries exactly the metrics
  BENCHMARK.json declares, each with its unit;
* in a directory that holds only BENCHMARK.json and perfbench/, the
  benchmark fails fast and prints no result.
"""

import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory(dir=ROOT) as d:
            runs = []
            for k in range(2):
                g, c = os.path.join(d, "g%d" % k), os.path.join(d, "c%d" % k)
                gen.write_cartogram(7, 12, g, c)
                o = os.path.join(d, "o%d.parquet" % k)
                gen.write_orders(7, 500, 50, o)
                runs.append((digest(g), digest(c), digest(o)))
            self.assertEqual(runs[0], runs[1])
            gen.write_cartogram(8, 12, os.path.join(d, "g9"), os.path.join(d, "c9"))
            self.assertNotEqual(digest(os.path.join(d, "g9")), runs[0][0])

    def test_lattice_is_the_stated_size(self):
        with tempfile.TemporaryDirectory(dir=ROOT) as d:
            sizes = gen.write_cartogram(3, 10, os.path.join(d, "g"), os.path.join(d, "c"))
            self.assertEqual(sizes["regions"], 100)
            self.assertEqual(sizes["queen_pairs"], 2 * (2 * 10 * 9 + 2 * 9 * 9))


class ResultLineTest(unittest.TestCase):
    def run_tail(self, workload, trace):
        cmd = ("%s --workload %s --seed 1 --seconds 1 --trace %d | tail -c 2000"
               % (" ".join(SPEC["command"]), workload, trace))
        out = subprocess.run(["bash", "-o", "pipefail", "-c", cmd], cwd=ROOT,
                             capture_output=True, text=True, timeout=900)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_tail_parses_with_every_metric(self):
        for w in SPEC["workloads"]:
            for trace, declared in ((0, SPEC["end_to_end"]), (1, SPEC["per_layer"])):
                with self.subTest(workload=w["name"], trace=trace):
                    r = self.run_tail(w["name"], trace)
                    self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(r["correct"])
                    self.assertEqual(r["failed"], 0)
                    self.assertGreaterEqual(r["attempted"], 1)
                    self.assertEqual({k: v["unit"] for k, v in r["metrics"].items()},
                                     {m["name"]: m["unit"] for m in declared})


class BareDirectoryTest(unittest.TestCase):
    def test_fails_without_program_sources(self):
        with tempfile.TemporaryDirectory(dir=ROOT) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            for p in SPEC["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                                ignore=shutil.ignore_patterns("target"))
            out = subprocess.run(SPEC["command"] + ["--workload", SPEC["workloads"][0]["name"],
                                                    "--seed", "1", "--seconds", "1",
                                                    "--trace", "0"],
                                 cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(out.returncode, 0)
            self.assertEqual(out.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
