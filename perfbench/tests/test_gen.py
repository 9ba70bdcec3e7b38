"""Self-tests of the benchmark's seeded input generator.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

SMALL = {
    "sql_tpch": {"sf": 0.001},
    "curation_batch": {"docs": 120, "planted_share": 0.3, "hub": 6},
    "dedup_incremental": {"docs": 100, "planted_share": 0.3, "hub": 6,
                          "batches": 3, "batch_fresh": 15, "batch_copies": 5},
}


def files(d):
    return sorted(os.path.relpath(os.path.join(r, n), d)
                  for r, _, names in os.walk(d) for n in names)


class Determinism(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.sizes = gen.SIZES
        gen.SIZES = SMALL

    def tearDown(self):
        gen.SIZES = self.sizes
        shutil.rmtree(self.tmp)

    def generate(self, workload, seed, name):
        out = os.path.join(self.tmp, name)
        gen.generate(workload, seed, out)
        return out

    def test_same_seed_writes_identical_bytes(self):
        for w in SMALL:
            a, b = self.generate(w, 7, f"{w}-a"), self.generate(w, 7, f"{w}-b")
            self.assertEqual(files(a), files(b))
            _, mismatch, errors = filecmp.cmpfiles(a, b, files(a), shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)

    def test_other_seed_changes_every_data_file(self):
        for w in SMALL:
            a, b = self.generate(w, 7, f"{w}-a"), self.generate(w, 8, f"{w}-b")
            data = [f for f in files(a) if f.endswith(".parquet")
                    and not f.startswith(("region", "nation"))]
            _, mismatch, _ = filecmp.cmpfiles(a, b, data, shallow=False)
            self.assertEqual(sorted(mismatch), data, w)

    def test_planted_share_is_measured(self):
        stats = gen.generate("curation_batch", 3, os.path.join(self.tmp, "c"))
        self.assertAlmostEqual(stats["planted_share"], stats["planted_copies"] / 120)
        self.assertGreater(stats["copies_at_or_above_threshold"], 0.0)
        self.assertLess(stats["copies_at_or_above_threshold"], 1.0)
        self.assertIn("6", stats["cluster_sizes"])


if __name__ == "__main__":
    unittest.main()
