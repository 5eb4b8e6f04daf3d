"""Pins the generator's contract: the same seed gives byte-identical
files and statement sequences, another seed gives different ones.

    python3 -m unittest perfbench/test_gen.py
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def _digest(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _inputs(seed, out):
    gen.write_parquet(gen.tables(seed, 0.001), os.path.join(out, "tables"))
    gen.write_exec_csv(seed, 500, os.path.join(out, "csv"))
    gen.copy_payloads(seed, 2, 50, os.path.join(out, "copy"))
    gen.shard_loads(seed, 500, os.path.join(out, "shards"))
    stmts = (gen.exec_statements(seed, 20, 500), gen.serve_ops(seed, 2, 50, 500, 2),
             gen.fed_ops(seed, 30))
    return _digest(out), repr(stmts)


class GenDeterminism(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_differs(self):
        with tempfile.TemporaryDirectory() as t:
            a = _inputs(7, os.path.join(t, "a"))
            b = _inputs(7, os.path.join(t, "b"))
            c = _inputs(8, os.path.join(t, "c"))
        self.assertEqual(a, b)
        self.assertNotEqual(a[0], c[0])
        self.assertNotEqual(a[1], c[1])

    def test_each_file_differs_across_seeds(self):
        with tempfile.TemporaryDirectory() as t:
            p1 = gen.write_exec_csv(1, 300, os.path.join(t, "1"))
            p2 = gen.write_exec_csv(2, 300, os.path.join(t, "2"))
            for f1, f2 in zip(p1[0] + [p1[1]], p2[0] + [p2[1]]):
                with open(f1, "rb") as x, open(f2, "rb") as y:
                    self.assertNotEqual(x.read(), y.read())


if __name__ == "__main__":
    unittest.main()
