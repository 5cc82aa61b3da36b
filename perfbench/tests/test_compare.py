"""Comparing results: python3 -m unittest discover -s perfbench/tests"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import compare  # noqa: E402


def result(d, name, **stamp):
    base = {"workload": "ingest", "seed": 1, "seconds": 20, "cpus": 4, "sf": 0.1,
            "heap": "3g", "spark": "4.1.2", "jdk": "17", "commit": "a", "source": "x"}
    base.update(stamp)
    path = os.path.join(d, name)
    with open(path, "w") as f:
        json.dump({"stamp": base, "end_to_end": {"setup_s": [10.0, "s"]},
                   "reads": {"reads.op_p50_gm_ms": [500.0, "ms"]}}, f)
    return path


class CompareTest(unittest.TestCase):
    def run_main(self, args):
        err = io.StringIO()
        with contextlib.redirect_stdout(io.StringIO()), contextlib.redirect_stderr(err):
            return compare.main(args), err.getvalue()

    def test_refuses_different_configurations(self):
        with tempfile.TemporaryDirectory() as d:
            a = result(d, "a.json")
            b = result(d, "b.json", cpus=8)
            code, err = self.run_main([a, "--", b])
            self.assertEqual(code, 2)
            self.assertIn("refusing", err)

    def test_commit_and_seed_may_differ(self):
        with tempfile.TemporaryDirectory() as d:
            a = result(d, "a.json")
            b = result(d, "b.json", commit="b", source="y", seed=2)
            self.assertEqual(self.run_main([a, "--", b])[0], 0)


if __name__ == "__main__":
    unittest.main()
