"""The batch correctness gate must reject a corrupted gold table.

Builds the benchmark (first run only) and starts one Spark JVM, so it takes
about a minute.
"""
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


class GateSelfTest(unittest.TestCase):

    def test_gate_fails_on_corrupted_gold(self):
        classes = run.build()
        d = os.path.join(run.BUILD, "tests", "gate")
        shutil.rmtree(d, ignore_errors=True)
        try:
            staged, work = os.path.join(d, "staged"), os.path.join(d, "work")
            gen.stage("medallion_batch", 5, 1, staged)
            r = run.run_jvm(classes, "gate_selftest", staged, work, 1, False, 170)
            checks = {c["name"]: c for c in r["checks"]}
            self.assertTrue(checks["gate passes on intact gold"]["ok"], r["checks"])
            self.assertTrue(checks["gate fails on corrupted gold"]["ok"], r["checks"])
            self.assertEqual(r["failed"], 0, r["checks"])
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
