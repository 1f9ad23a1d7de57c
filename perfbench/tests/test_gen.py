import filecmp
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402


def _tree(d):
    return sorted(os.path.relpath(os.path.join(r, f), d)
                  for r, _, fs in os.walk(d) for f in fs)


class Generator(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-gen-")

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def stage(self, workload, seed, name):
        out = os.path.join(self.tmp, name)
        gen.stage(workload, seed, 4, out)
        return out

    def test_same_seed_is_byte_identical(self):
        for w in gen.SHAPES:
            a, b = self.stage(w, 7, w + "-a"), self.stage(w, 7, w + "-b")
            files = _tree(a)
            self.assertEqual(files, _tree(b))
            _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []), w)

    def test_another_seed_differs(self):
        for w in gen.SHAPES:
            a, b = self.stage(w, 7, w + "-a"), self.stage(w, 8, w + "-b")
            _, mismatch, _ = filecmp.cmpfiles(a, b, _tree(a), shallow=False)
            self.assertTrue(mismatch, w)

    def test_every_workload_records_why(self):
        for w, shape in gen.SHAPES.items():
            self.assertTrue(shape["why"].strip(), w)

    def test_cdc_changes_apply_to_live_keys_only(self):
        base = gen.cdc_base(3)
        live = {r["order_id"]: r for r in base}
        markers = set()
        for events in gen.cdc_files(3, 60, base):
            self.assertEqual(events[0]["op"], "c")
            markers.add(events[0]["after"]["order_id"])
            for e in events:
                if e["op"] == "c":
                    self.assertNotIn(e["after"]["order_id"], live)
                    live[e["after"]["order_id"]] = e["after"]
                elif e["op"] == "u":
                    self.assertEqual(live[e["before"]["order_id"]], e["before"])
                    live[e["after"]["order_id"]] = e["after"]
                else:
                    self.assertEqual(live.pop(e["before"]["order_id"]), e["before"])
        self.assertEqual(len(markers), 60)

    def test_cdc_mix_has_one_create_per_file(self):
        shape = gen.SHAPES["cdc_upsert"]
        files = gen.cdc_files(3, 200, gen.cdc_base(3))
        ops = [e["op"] for events in files for e in events]
        for events in files:
            self.assertEqual([e["op"] for e in events].count("c"), 1)
            self.assertEqual(len(events), shape["events_per_file"])
        for op, share in shape["mix"].items():
            self.assertAlmostEqual(ops.count(op) / len(ops), share, delta=0.03, msg=op)

    def test_manifest_sizes_the_stream(self):
        out = self.stage("cdc_upsert", 1, "m")
        with open(os.path.join(out, "manifest.json")) as f:
            m = json.load(f)
        self.assertEqual(m["files"], gen.stream_file_count("cdc_upsert", 4))
        self.assertEqual(len(m["markers"]), m["files"])


if __name__ == "__main__":
    unittest.main()
