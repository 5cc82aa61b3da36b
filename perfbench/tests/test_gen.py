"""Generator determinism: python3 -m unittest discover -s perfbench/tests"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def landed_bytes(seed, i, d):
    gen.land(gen.quote_batch(seed, i, 200, 1_700_000_000_000_000), d, i)
    with open(os.path.join(d, f"batch-{i:06d}.parquet"), "rb") as f:
        return f.read()


class QuoteBatchTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_batches(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            for i in range(3):
                self.assertEqual(landed_bytes(7, i, a), landed_bytes(7, i, b))

    def test_seed_and_index_change_the_batch(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.assertNotEqual(landed_bytes(7, 0, a), landed_bytes(8, 0, b))
            self.assertNotEqual(landed_bytes(7, 1, a), landed_bytes(7, 2, a))

    def test_ids_are_disjoint_across_batches(self):
        ids = set()
        for i in range(4):
            t = gen.quote_batch(3, i, 50, 0)
            ids.update(t.column("doc_id").to_pylist())
        self.assertEqual(len(ids), 200)

    def test_landing_leaves_no_temp_file(self):
        with tempfile.TemporaryDirectory() as d:
            landed_bytes(1, 0, d)
            self.assertEqual(os.listdir(d), ["batch-000000.parquet"])


class TablesTest(unittest.TestCase):
    def test_same_seed_gives_byte_identical_tables(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.tables(5, a, sf=0.001)
            gen.tables(5, b, sf=0.001)
            names = sorted(os.listdir(a))
            self.assertEqual(len(names), 10)
            for n in names:
                with open(os.path.join(a, n), "rb") as fa, open(os.path.join(b, n), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read(), n)


if __name__ == "__main__":
    unittest.main()
