"""Tests of the benchmark itself: its metric definitions, its input
generator and its Spark listener.

Run from the root of the repository:
  python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import re
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def sha(path):
    return hashlib.sha256(Path(path).read_bytes()).hexdigest()


class MetricDefinitions(unittest.TestCase):
    def setUp(self):
        self.bench = json.loads((ROOT / "BENCHMARK.json").read_text())
        self.layers = json.loads((HERE / "metrics.json").read_text())

    def test_names_and_units_are_valid_and_unique(self):
        names = [m["name"] for k in ("end_to_end", "per_layer")
                 for m in self.bench[k]]
        names += [w["name"] for w in self.bench["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
        for k in ("end_to_end", "per_layer"):
            for m in self.bench[k]:
                self.assertRegex(m["unit"], UNIT)
                self.assertIn(m["better"], ("lower", "higher"))

    def test_workloads_and_bounds(self):
        self.assertEqual(sorted(w["name"] for w in self.bench["workloads"]),
                         sorted(run.WORKLOADS))
        setup = [m for m in self.bench["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["better"], "lower")
        for m in self.bench["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
            self.assertLessEqual(m["bound"], setup[0]["bound"])

    def test_every_layer_metric_moves_an_end_to_end_metric(self):
        e2e = {m["name"] for m in self.bench["end_to_end"]}
        names = [m["name"] for m in self.bench["per_layer"]]
        for name in names:
            m = self.layers[name]
            self.assertIn(m["moves"], e2e, name)
            self.assertTrue(set(m["on"]) <= set(run.WORKLOADS), name)
            self.assertTrue(m["layer"], name)


class Generator(unittest.TestCase):
    def test_blobs_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            gen.blobs(f"{d}/a.parquet", 7, 500, 19, 7)
            gen.blobs(f"{d}/b.parquet", 7, 500, 19, 7)
            gen.blobs(f"{d}/c.parquet", 8, 500, 19, 7)
            self.assertEqual(sha(f"{d}/a.parquet"), sha(f"{d}/b.parquet"))
            self.assertNotEqual(sha(f"{d}/a.parquet"), sha(f"{d}/c.parquet"))


class Listener(unittest.TestCase):
    def test_counts_are_nonzero_on_a_shuffle_query(self):
        cp = build.build()
        with tempfile.TemporaryDirectory() as d:
            out = subprocess.run(
                ["java", "-Xmx1g", *run.jvm_options(Path(d)), "-cp", cp,
                 "graft.perfbench.ListenerCheck"],
                cwd=d, check=True, stdout=subprocess.PIPE,
                stderr=subprocess.DEVNULL, text=True, timeout=170).stdout
        c = json.loads(out.strip().splitlines()[-1])
        self.assertEqual(c["groups"], 7)
        self.assertGreaterEqual(c["jobs"], 1)
        self.assertGreaterEqual(c["stages"], 2)  # map side, then reduce
        self.assertGreater(c["tasks"], 0)
        self.assertGreater(c["shuffle_bytes"], 0)
        self.assertGreater(c["executor_cpu_ns"], 0)
        self.assertEqual(c["spans"], 1)


if __name__ == "__main__":
    unittest.main()
