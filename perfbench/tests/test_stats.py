"""Unit tests for the benchmark's pure logic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def span(i, name, start, end, parent=-1, job=1):
    return {"id": i, "name": name, "start_ns": start, "end_ns": end,
            "parent": parent, "job": job}


class MedianAndPercentiles(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_median_of_nothing_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])

    def test_highest_percentile_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.highest_percentile(10))
        self.assertEqual(stats.highest_percentile(20), 50)
        self.assertEqual(stats.highest_percentile(40), 75)
        self.assertEqual(stats.highest_percentile(100), 90)
        self.assertEqual(stats.highest_percentile(1000), 99)
        self.assertEqual(stats.highest_percentile(10000), 99.9)

    def test_nearest_rank_percentile(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile([5], 99), 5)


class FailureAccounting(unittest.TestCase):
    def test_counts_failed_against_attempted(self):
        self.assertEqual(stats.failure_accounting([True, False, True, True]),
                         (4, 1, 0.75))

    def test_all_ok(self):
        self.assertEqual(stats.failure_accounting([True] * 3), (3, 0, 1.0))

    def test_nothing_attempted(self):
        self.assertEqual(stats.failure_accounting([]), (0, 0, 0.0))


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_covered_child_intervals(self):
        spans = [span(0, "job", 0, 100),
                 span(1, "a", 10, 40, parent=0),
                 span(2, "b", 30, 60, parent=0),   # overlaps a
                 span(3, "a.inner", 15, 25, parent=1)]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 100 - 50)   # children cover [10, 60)
        self.assertEqual(st[1], 30 - 10)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[3], 10)
        # siblings overlapping by 10 count that interval in both their selves
        self.assertEqual(sum(st.values()), 100 + 10)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(0, "job", 10, 20), span(1, "x", 0, 15, parent=0)]
        self.assertEqual(stats.self_times(spans)[0], 5)

    def test_covered_frac_of_a_traced_job(self):
        spans = [span(0, "job", 0, 200, job=3),
                 span(1, "engine.execute", 0, 150, parent=0, job=3),
                 span(2, "job", 0, 10, job=4)]
        self.assertAlmostEqual(stats.covered_frac(spans, 3), 0.75)

    def test_prefix_subtraction_for_csv_ingest(self):
        d = {"exec.raw": 1.0, "exec.typed": 3.0, "exec.validated": 4.0,
             "exec.transformed": 4.5, "sources.write": 5.5,
             "validate.quarantine": 2.0, "engine.execute": 7.5,
             "engine.plan": 0.2, "infer.sample": 0.1,
             "transform.compile": 0.01, "job": 20.0}
        m = stats.layer_times("csv_ingest", d)
        self.assertEqual(m["sources.read_s"], 1.0)
        self.assertEqual(m["infer.cast_s"], 2.0)
        self.assertEqual(m["validate.check_s"], 1.0)
        self.assertEqual(m["transform.eval_s"], 0.5)
        self.assertEqual(m["sources.write_s"], 1.0)
        self.assertEqual(m["validate.quarantine_s"], 2.0)

    def test_the_sink_is_timed_apart_from_the_product_call(self):
        # a slower product call (say, planning twice) does not show up as
        # a slower sink; it shows up in the attribution gap
        d = {"exec.transformed": 4.5, "sources.write": 5.5,
             "engine.execute": 9.0}
        self.assertEqual(stats.layer_times("csv_ingest", d)["sources.write_s"], 1.0)

    def test_attribution_gap(self):
        d = {"engine.plan": 0.5, "infer.sample": 0.25,
             "validate.quarantine": 1.25, "sources.write": 6.0,
             "engine.execute": 8.0}
        self.assertAlmostEqual(stats.attribution_gap("csv_ingest", d), 0.0)
        d["engine.execute"] = 10.0
        self.assertAlmostEqual(stats.attribution_gap("csv_ingest", d), -0.2)
        d = {"engine.plan": 0.5, "llm.langid_train": 1.0,
             "llm.pipeline_plan": 0.5, "llm.shard_write": 6.0,
             "engine.execute": 4.0}
        self.assertAlmostEqual(stats.attribution_gap("curation", d), 1.0)
        self.assertGreater(abs(stats.attribution_gap("curation", d)),
                           stats.ATTRIBUTION_TOLERANCE)

    def test_layers_a_workload_never_enters_read_zero(self):
        d = {"exec.raw": 1.0, "exec.read": 1.25, "exec.jdbc_read": 0.5,
             "sources.write": 1.5, "sources.jdbc_write": 2.0,
             "engine.execute": 1.75, "job": 6.0}
        m = stats.layer_times("jdbc_roundtrip", d)
        self.assertEqual(m["infer.cast_s"], 0.25)
        self.assertEqual(m["sources.write_s"], 1.0)
        self.assertEqual(set(stats.LAYER_TIMES), set(m))
        for k in ("validate.check_s", "llm.pipeline_s", "transform.eval_s"):
            self.assertEqual(m[k], 0.0)

    def test_median_by_key(self):
        rows = [{"a": 1.0, "b": 5.0}, {"a": 3.0}, {"a": 2.0, "b": 7.0}]
        self.assertEqual(stats.median_by_key(rows), {"a": 2.0, "b": 6.0})


if __name__ == "__main__":
    unittest.main()
