"""Generator determinism: the same seed writes byte-identical inputs, a
different seed different ones.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402


def snapshot(d):
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


class GeneratorDeterminism(unittest.TestCase):
    def write(self, tmp, workload, seed, name):
        d = os.path.join(tmp, name)
        gen.write_workload_inputs(workload, seed, d, 3, sf=0.002, docs=200)
        return snapshot(d)

    def check(self, workload):
        scratch = os.path.join(os.path.dirname(HERE), ".bench_build")
        os.makedirs(scratch, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as tmp:
            a = self.write(tmp, workload, 3, "a")
            b = self.write(tmp, workload, 3, "b")
            c = self.write(tmp, workload, 4, "c")
        self.assertTrue(a)
        self.assertEqual(a, b)
        self.assertEqual(sorted(a), sorted(c))
        # fixed dimension tables (region, nation) match; every seeded batch differs
        seeded = [k for k in a if "batch" in k or "tick" in k]
        self.assertTrue(seeded)
        for k in seeded:
            self.assertNotEqual(a[k], c[k], k)

    def test_ingest(self):
        self.check("ingest")

    def test_follow(self):
        self.check("follow")

    def test_batches_pass_the_watermark(self):
        base = gen.base_tables(0.002, 5)
        batches = gen.ingest_batches(base, 0.002, 5, 3, batch_orders=20)
        fmt = "%Y-%m-%dT%H:%M:%S.%f"
        prev = gen.watermark(base["orders"]["o_orderdate"])
        for b in batches:
            self.assertGreater(min(b["orders"]["o_orderdate"].to_pylist()),
                               datetime.datetime.strptime(prev, fmt))
            prev = gen.watermark(b["orders"]["o_orderdate"])


if __name__ == "__main__":
    unittest.main()
