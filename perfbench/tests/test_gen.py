"""Generator determinism and expected-value consistency.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

SMALL = {"csv_ingest": 8000, "jdbc_roundtrip": 2000, "curation": 400}


class Determinism(unittest.TestCase):
    def digest(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            expected = gen.generate(workload, seed, d, size=SMALL[workload])
            return gen.input_digest(d), expected

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                a, ea = self.digest(w, 7)
                b, eb = self.digest(w, 7)
                c, ec = self.digest(w, 8)
                self.assertEqual(a, b)
                self.assertEqual(ea, eb)
                self.assertNotEqual(a, c)
                self.assertNotEqual(ea, ec)

    def test_workloads_draw_independent_streams(self):
        a = gen.rng_for("csv_ingest", 1).integers(0, 1 << 30, size=4)
        b = gen.rng_for("jdbc_roundtrip", 1).integers(0, 1 << 30, size=4)
        self.assertNotEqual(list(a), list(b))


class ExpectedValues(unittest.TestCase):
    def test_csv_planted_rejects_and_filter(self):
        with tempfile.TemporaryDirectory() as d:
            e = gen.generate("csv_ingest", 3, d, size=8000)
            self.assertEqual(e["rejected_rows"], round(8000 * gen.INVALID_SHARE))
            self.assertEqual(e["rows"] + e["filtered_rows"] + e["rejected_rows"],
                             e["records"])
            lines = 0
            for part in os.listdir(os.path.join(d, "lineitem.csv")):
                with open(os.path.join(d, "lineitem.csv", part)) as f:
                    lines += sum(1 for _ in f)
            self.assertEqual(lines, 8000 + gen.CSV_PARTS)  # a header per file

    def test_curation_stage_counts_shrink_monotonically(self):
        with tempfile.TemporaryDirectory() as d:
            e = gen.generate("curation", 3, d, size=400)
            s = [e["survivors"][k] for k in ("input", "after_urls",
                 "after_repetition", "after_dedup", "after_decontamination",
                 "kept")]
            self.assertEqual(s, sorted(s, reverse=True))
            self.assertEqual(s[0], e["records"])
            self.assertEqual(s[-1], e["rows"])

    def test_checksum_helpers(self):
        self.assertEqual(gen.key_checksum([1, 2], [3, 4]), 8 + 3 + 16 + 4)
        self.assertEqual(gen.cents([1.005, 2.5]), 100 + 250)


if __name__ == "__main__":
    unittest.main()
