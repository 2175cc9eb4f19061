"""The query listener attributes catalog writes to the right sink table, and
the counting file system counts listings under the catalog only."""

import glob
import os
import shutil
import unittest

from . import jvm


def data_files(d):
    return [p for p in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
            if not os.path.basename(p).startswith((".", "_"))]


class AttributionTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.out = os.path.join(jvm.WORK, "attribution")
        shutil.rmtree(cls.out, ignore_errors=True)
        cls.c = jvm.selftest("attribution", cls.out)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(jvm.WORK, ignore_errors=True)

    def test_writes_land_on_their_table(self):
        for table in ("routed", "metrics"):
            files = data_files(os.path.join(self.out, "catalog", table))
            self.assertEqual(self.c[f"sink.{table}.files"], len(files), table)
            self.assertEqual(self.c[f"sink.{table}.bytes"],
                             sum(os.path.getsize(f) for f in files), table)
            self.assertGreater(self.c[f"sink.{table}.write_s"], 0, table)
        self.assertEqual(self.c["sink.routed.parts"], 6)

    def test_nothing_else_is_attributed(self):
        tables = {k.split(".")[1] for k in self.c
                  if k.startswith("sink.") and k.count(".") == 2}
        self.assertEqual(tables, {"routed", "metrics"})

    def test_read_back_is_counted(self):
        self.assertGreater(self.c["sink.readback_s"], 0)

    def test_listings_under_the_catalog_are_counted(self):
        # routed/, its 3 route= directories and their 6 window_key= directories.
        self.assertEqual(self.c["walk.dirs_listed"], 1 + 3 + 6)
        self.assertEqual(self.c["elsewhere.dirs_listed"], 0)
        self.assertGreater(self.c["sink.partition_dirs_listed"], 10)
        self.assertGreater(self.c["sink.list_s"], 0)


if __name__ == "__main__":
    unittest.main()
