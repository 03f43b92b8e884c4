"""BENCHMARK.json lists exactly the metrics run.py prints."""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import run  # noqa: E402


class BenchmarkJsonTest(unittest.TestCase):

    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_per_layer_metrics_match_the_traced_output(self):
        self.assertEqual([(m["name"], m["unit"]) for m in self.bench["per_layer"]],
                         [(n, run.unit(n)) for n in run.per_layer_names()])

    def test_end_to_end_metrics_match_the_untraced_output(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]},
                         run.END_TO_END)

    def test_workloads_are_the_ones_run_accepts(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]],
                         run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
