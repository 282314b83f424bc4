"""Determinism of the input generators: the same seed gives byte-identical
files, another seed gives other files of the same size class.

    python3 perfbench/test_gen.py
"""
import filecmp
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


class GeneratorDeterminism(unittest.TestCase):

    def setUp(self):
        # scratch space in the checkout's (ignored) work directory
        work = os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir, ".bench_work")
        os.makedirs(work, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="gen-test-", dir=work)
        self.addCleanup(shutil.rmtree, self.tmp, True)

    def files(self, workload, seed, name, scale=0.2):
        return gen.GENERATORS[workload](os.path.join(self.tmp, name), seed, scale)

    def test_same_seed_same_bytes(self):
        for w in gen.GENERATORS:
            a = self.files(w, 7, f"{w}-a")
            b = self.files(w, 7, f"{w}-b")
            self.assertEqual([os.path.basename(p) for p in a], [os.path.basename(p) for p in b])
            for pa, pb in zip(a, b):
                self.assertTrue(filecmp.cmp(pa, pb, shallow=False), f"{w}: {pa} != {pb}")

    def test_other_seed_other_data_same_shape(self):
        for w in gen.GENERATORS:
            a = self.files(w, 7, f"{w}-a")
            b = self.files(w, 8, f"{w}-b")
            for pa, pb in zip(a, b):
                self.assertFalse(filecmp.cmp(pa, pb, shallow=False), f"{w}: seeds 7 and 8 agree")
                with open(pa) as fa, open(pb) as fb:
                    # the seed moves values, not the amount of work
                    self.assertEqual(sum(1 for _ in fa), sum(1 for _ in fb), pa)


if __name__ == "__main__":
    unittest.main()
