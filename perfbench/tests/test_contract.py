"""The runner reports exactly the metrics and workloads BENCHMARK.json
declares, with the same units.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402

SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


@unittest.skipUnless(os.path.exists(SPEC), "no BENCHMARK.json next to perfbench/")
class Contract(unittest.TestCase):
    def setUp(self):
        with open(SPEC) as f:
            self.spec = json.load(f)

    def test_workloads(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]],
                         list(run.WORKLOADS))

    def test_end_to_end_metrics_and_units(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["end_to_end"]],
                         run.END_TO_END)

    def test_per_layer_metrics_and_units(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.spec["per_layer"]],
                         run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
