#!/usr/bin/env python3
"""The generator is a pure function of (workload, seed): the same seed
always yields the same bytes, and another seed yields other inputs.

    python3 ddlbench/test_gen.py      (from the root of a checkout)
"""
import hashlib
import os
import shutil
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

SCRATCH = os.path.join(os.getcwd(), ".bench_build", "ddlbench", "test-gen")


def digest(root):
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            path = os.path.join(d, f)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class SameSeedSameBytes(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_every_workload(self):
        for workload in ("ddl_corpus", "giant_script", "migrate_cdc"):
            with self.subTest(workload=workload):
                runs = []
                for i, seed in enumerate((5, 5, 6)):
                    out = os.path.join(SCRATCH, f"{workload}-{i}")
                    gen.generate(workload, seed, out)
                    runs.append(digest(out))
                self.assertEqual(runs[0], runs[1])
                self.assertNotEqual(runs[0], runs[2])


if __name__ == "__main__":
    unittest.main()
