"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

Run from the repository root; the JVM tests build the benchmark first (as
run.py does, into .bench_build/).
"""
import datetime
import decimal
import json
import math
import os
import subprocess
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.join(HERE, "..", "..", "tools"))
import gen  # noqa: E402
import run  # noqa: E402
from check_oracle import canon  # noqa: E402


def self_test(*args):
    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classes = run.build(root, build_dir)
    cmd = ["java", "-Xmx1g"]
    for p in run.ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(run.spark_jars(), "*"),
            "perfbench.SelfTest", *args]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, check=True).stdout
    return [json.loads(l) for l in out.splitlines() if l.startswith("{")]


class PercentileRule(unittest.TestCase):
    def expected(self, n):
        """Highest ladder rung with at least ten samples beyond its
        nearest rank, over the samples 1..n."""
        for p in reversed([50, 75, 90, 95, 99, 99.9]):
            rank = max(1, math.ceil(p / 100 * n))
            if n - rank >= 10:
                return p, float(rank)
        return None, None

    def test_tail(self):
        ns = [5, 11, 19, 20, 21, 40, 41, 99, 100, 199, 200, 201, 1000, 10000, 20000]
        for r in self_test("tail", *map(str, ns)):
            self.assertEqual((r["pct"], r["value"]), self.expected(r["n"]), r)

    def test_p95_needs_200_samples(self):
        self.assertEqual(self.expected(199)[0], 90)
        self.assertEqual(self.expected(200)[0], 95)


class HashMatchesCheckOracle(unittest.TestCase):
    def test_fixture(self):
        rows = {
            "id": pa.array([1, 2, 3, 4], pa.int64()),
            "small": pa.array([7, None, -3, 0], pa.int32()),
            "x": pa.array([0.1 + 0.2, 1e-05, 123456789.0, -0.0]),
            "y": pa.array([1.5, float("nan"), float("inf"), 2.5e-300]),
            "f": pa.array([0.1, -3.25, 1e7, None], pa.float32()),
            "s": pa.array(["a'b", 'say "hi"', "", None]),
            "b": pa.array([True, False, None, True]),
            "ts": pa.array([datetime.datetime(2024, 1, 1, 0, 0, 7, 179575),
                            datetime.datetime(2024, 1, 2), None,
                            datetime.datetime(1999, 12, 31, 23, 59, 59)],
                           pa.timestamp("us")),
            "d": pa.array([decimal.Decimal("1.50"), decimal.Decimal("-20.00"), None,
                           decimal.Decimal("0.05")], pa.decimal128(10, 2)),
            "v": pa.array([[1.0, 0.25], [], None, [1e-07, 3e16]], pa.list_(pa.float64())),
            "w": pa.array([["x", "y'z"], None, [], ["q"]], pa.list_(pa.string())),
        }
        with tempfile.TemporaryDirectory() as t:
            path = os.path.join(t, "fixture.parquet")
            table = pa.table(rows)
            pq.write_table(table, path)
            want = canon([tuple(r.values()) for r in table.to_pylist()], table.column_names)
            got = self_test("hash", path)[0]["hash"]
        self.assertEqual(got, want)


class Generators(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def table(self, d, name):
        return pq.read_table(os.path.join(d, f"{name}.parquet"))

    def test_replica_per_seed(self):
        d = {s: os.path.join(self.tmp.name, f"rep-{s}") for s in ("a7", "b7", "8")}
        gen.replica(d["a7"], 7, 3)
        gen.replica(d["b7"], 7, 3)
        gen.replica(d["8"], 7 + 1, 3)
        e = {k: self.table(v, "embeddings") for k, v in d.items()}
        source = pq.read_table(gen.REPLICA_SOURCE)
        self.assertEqual(e["a7"].num_rows, 3 * source.num_rows)
        self.assertTrue(e["a7"].slice(0, source.num_rows).equals(source))
        self.assertTrue(e["a7"].equals(e["b7"]))
        self.assertFalse(e["a7"].equals(e["8"]))

    def test_snapshots_per_seed(self):
        runs = {s: gen.snapshots(os.path.join(self.tmp.name, f"snap-{s}"),
                                 int(s[-1]), 2) for s in ("a1", "b1", "2")}
        for t in ("embeddings", "documents", "events"):
            a, b, c = (self.table(runs[s][-1], t) for s in ("a1", "b1", "2"))
            base = self.table(gen.BASE, t)
            self.assertTrue(a.equals(b), t)
            self.assertFalse(a.equals(c), t)
            self.assertGreater(a.num_rows, base.num_rows)
            self.assertTrue(a.slice(0, base.num_rows).equals(base), t)
        for t in ("lineitem", "orders"):
            self.assertTrue(self.table(runs["a1"][0], t).equals(self.table(gen.BASE, t)))


if __name__ == "__main__":
    unittest.main()
