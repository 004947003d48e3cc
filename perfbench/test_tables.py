"""Determinism test of the query_mix table generator.

Run from the repository root: python3 -m unittest perfbench/test_tables.py
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import tables  # noqa: E402


def _files(seed):
    with tempfile.TemporaryDirectory() as d:
        tables.write(d, seed)
        out = {}
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name), "rb") as f:
                out[name] = f.read()
        return out


class TablesTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        a = _files(3)
        self.assertEqual(len(a), 10)
        self.assertEqual(a, _files(3))

    def test_other_seed_gives_other_data(self):
        a, b = _files(3), _files(4)
        seeded = [n for n in a if n not in ("region.parquet", "nation.parquet")]
        for n in seeded:
            self.assertNotEqual(a[n], b[n], n)


if __name__ == "__main__":
    unittest.main()
