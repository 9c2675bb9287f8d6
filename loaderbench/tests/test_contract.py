"""BENCHMARK.json and the code that reports its metrics must agree.

    python3 -m unittest discover -s loaderbench/tests
"""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402
import run  # noqa: E402


class ContractTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            cls.bench = json.load(f)

    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]],
                         list(run.WORKLOADS))

    def test_end_to_end_metrics_match(self):
        e2e = self.bench["end_to_end"]
        self.assertEqual({m["name"]: m["unit"] for m in e2e}, run.END_TO_END)
        bounds = {m["name"]: m["bound"] for m in e2e}
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))

    def test_per_layer_metrics_match(self):
        self.assertEqual({m["name"]: (m["unit"], m["better"])
                          for m in self.bench["per_layer"]}, M.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
