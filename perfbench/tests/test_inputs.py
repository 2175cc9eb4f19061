"""Seeded input builders: the same seed writes the same files (names,
sizes, rows in order); the pipe_incremental history is the same for every
seed."""

import os
import shutil
import unittest

from . import jvm

DATA = os.path.join(jvm.HERE, "data")


class InputsTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.dirs = [os.path.join(jvm.WORK, f"gen-{i}") for i in range(3)]
        for d in cls.dirs:
            shutil.rmtree(d, ignore_errors=True)
        cls.a = jvm.selftest("gen", 7, DATA, cls.dirs[0])
        cls.b = jvm.selftest("gen", 7, DATA, cls.dirs[1])
        cls.c = jvm.selftest("gen", 8, DATA, cls.dirs[2])

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(jvm.WORK, ignore_errors=True)

    def test_same_seed_same_files(self):
        self.assertEqual(self.a, self.b)

    def test_other_seed_other_files_same_rows(self):
        for d in ("inc", "corpus", "transcript"):
            self.assertNotEqual(self.a[d], self.c[d], d)
        # The history is built once and shared by every seed.
        self.assertEqual(self.a["hist"], self.c["hist"])
        self.assertEqual(self.a["documents"], 500)
        self.assertEqual(self.c["documents"], 500)

    def test_increment_has_every_injected_kind(self):
        inc = self.a["increment"]
        self.assertEqual(inc["new"], 2 * 500)
        for k in ("duplicates", "malformed", "null_ts", "committed", "late"):
            self.assertGreater(inc[k], 0, k)


if __name__ == "__main__":
    unittest.main()
