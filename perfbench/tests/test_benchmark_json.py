import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import run  # noqa: E402

SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


@unittest.skipUnless(os.path.isfile(SPEC), "BENCHMARK.json sits at the repository root")
class BenchmarkJson(unittest.TestCase):
    """BENCHMARK.json declares exactly the metrics and workloads run.py prints."""

    def setUp(self):
        with open(SPEC) as f:
            self.spec = json.load(f)

    def test_workloads(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]], list(run.WORKLOADS))

    def test_end_to_end(self):
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in self.spec["end_to_end"]],
                         run.END_TO_END)
        for m in self.spec["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in self.spec["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in self.spec["end_to_end"]))

    def test_per_layer(self):
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in self.spec["per_layer"]],
                         run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
