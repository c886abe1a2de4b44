"""Determinism of the seeded input generator.

    python3 perfbench/test_gen_inputs.py
"""
import tempfile
import unittest
from pathlib import Path

import gen_inputs

WORK = Path(__file__).resolve().parent / ".work"


class GenInputsTest(unittest.TestCase):
    def hashes(self, seed):
        WORK.mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=WORK) as d:
            return gen_inputs.generate(seed, d)

    def test_same_seed_gives_identical_files(self):
        self.assertEqual(self.hashes(7), self.hashes(7))

    def test_other_seed_changes_every_file(self):
        a, b = self.hashes(7), self.hashes(8)
        self.assertEqual(a.keys(), b.keys())
        for name in a:
            self.assertNotEqual(a[name], b[name], name)


if __name__ == "__main__":
    unittest.main()
