"""tools/scale.py's fold: numbers re-derived from samples, provenance refusals.

    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import math
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import scale  # noqa: E402

BASE = scale.load_json(os.path.join(scale.ROOT, "SCALE_r14.json"))
SUB = "q_llm_dedup_substrings"


def manifest(sf, passes, entries):
    return {"measure": [{"sf": sf, "passes": passes, "entries": entries}]}


class FoldTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.dir = self.tmp.name

    def tearDown(self):
        self.tmp.cleanup()

    def write_pass(self, sf, i, queries, commit="5024ed6", clean=True, sidecar=True):
        path = scale.bench_path(self.dir, sf, i)
        with open(path, "w") as f:
            json.dump({"queries": queries}, f)
        if sidecar:
            with open(path[:-len(".json")] + ".prov.json", "w") as f:
                json.dump({"commit": commit, "clean": clean, "runner": "jvm",
                           "cpus": 32, "heap": "64g", "sf": sf, "entries": ""}, f)

    def fold(self, m):
        return scale.fold(m, BASE, self.dir)

    def test_empty_fold_rederives_r14_and_fixes_only_the_stale_alphas(self):
        art = self.fold({"measure": []})
        self.assertEqual(art["queries"].keys(), BASE["queries"].keys())
        changed = {}
        for name, old in BASE["queries"].items():
            new = art["queries"][name]
            for field in ("times", "samples", "alpha_tail", "alpha_sf10"):
                self.assertEqual(new.get(field), old.get(field), f"{name}.{field}")
            if new["alpha"] != old["alpha"]:
                changed[name] = new["alpha"]
        # the r13/r14 forks replaced the sf1 medians and re-derived only alpha_tail
        self.assertEqual(changed, {SUB: 0.627, "q_llm_knn_ivf_incremental": 0.281})

    def test_refuses_a_pass_without_a_sidecar(self):
        self.write_pass("1", 1, {SUB: 30.0})
        self.write_pass("1", 2, {SUB: 31.0}, sidecar=False)
        with self.assertRaisesRegex(scale.Refused, "no provenance sidecar"):
            self.fold(manifest("1", 2, [SUB]))

    def test_refuses_a_dirty_pass(self):
        self.write_pass("1", 1, {SUB: 30.0})
        self.write_pass("1", 2, {SUB: 31.0}, clean=False)
        with self.assertRaisesRegex(scale.Refused, "dirty tree"):
            self.fold(manifest("1", 2, [SUB]))

    def test_refuses_an_entry_with_fewer_samples_than_passes(self):
        self.write_pass("1", 1, {SUB: 30.0, "q_sink_join_mv": 5.0})
        self.write_pass("1", 2, {"q_sink_join_mv": 5.5})  # SUB failed in pass 2
        with self.assertRaisesRegex(scale.Refused, f"{SUB}: 2 passes at sf1 but 1 samples"):
            self.fold(manifest("1", 2, [SUB, "q_sink_join_mv"]))

    def test_refuses_source_different_commits(self):
        self.write_pass("1", 1, {SUB: 30.0}, commit="0d57f62")
        self.write_pass("1", 2, {SUB: 31.0}, commit="5024ed6")
        with self.assertRaisesRegex(scale.Refused, "source-different"):
            self.fold(manifest("1", 2, [SUB]))

    def test_accepts_docs_only_commits(self):
        self.write_pass("1", 1, {SUB: 30.0}, commit="0c8a1eb")
        self.write_pass("1", 2, {SUB: 31.0}, commit="c07a9e7")
        art = self.fold(manifest("1", 2, [SUB]))
        self.assertEqual(art["queries"][SUB]["samples"]["1.0"], [30.0, 31.0])

    def test_one_fresh_entry_sf_replaces_exactly_its_samples(self):
        for i, t in enumerate([42.0004, 40.0, 41.0], start=1):
            self.write_pass("1", i, {SUB: t, "q_sink_join_mv": 1.0})
        art = self.fold(manifest("1", 3, [SUB]))
        for name, old in BASE["queries"].items():
            new = art["queries"][name]
            expect = dict(old["samples"], **({"1.0": [40.0, 41.0, 42.0]} if name == SUB else {}))
            self.assertEqual(new["samples"], expect, name)
        rec = art["queries"][SUB]
        self.assertEqual(rec["times"]["1.0"], 41.0)
        t = rec["times"]
        self.assertEqual(rec["alpha_tail"], round(math.log10(41.0 / t["0.1"]), 3))
        self.assertEqual(rec["alpha_sf10"], round(math.log10(t["10.0"] / 41.0), 3))
        self.assertEqual(rec["alpha"], round(scale.fit(
            [(0.01, t["0.01"]), (0.1, t["0.1"]), (1.0, 41.0)]), 3))
        self.assertNotEqual(rec["alpha"], BASE["queries"][SUB]["alpha"])
        self.assertEqual(rec["measured"], {"1.0": {
            "commit": "5024ed6", "runner": "jvm", "cpus": 32, "heap": "64g"}})


if __name__ == "__main__":
    unittest.main()
