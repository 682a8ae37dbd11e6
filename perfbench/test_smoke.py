"""Tests of the benchmark harness itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The smoke test runs all three workloads, traced, at tiny size with their
reference checks, so a broken harness shows before a long measured run.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run  # noqa: E402


class UnitTest(unittest.TestCase):
    def test_covered_merges_overlaps_and_clips(self):
        self.assertAlmostEqual(layers.covered([(0, 2), (1, 3), (5, 9)], 0.5, 6), 3.5)
        self.assertEqual(layers.covered([], 0, 1), 0)

    def test_wall_split_shares_running_stages_and_adds_up(self):
        stages = [(1, 3, {"ingest": 1.0}), (2, 4, {"sources": 0.5, "ingest": 0.5})]
        execs = [(1, 4.5)]
        calls = [(0, 5.5, "sinks"), (0, 1, "ingest")]
        split = layers.wall_split(0, 6, stages, execs, calls)
        self.assertAlmostEqual(sum(split.values()), 6)
        self.assertAlmostEqual(split["ingest"], 1 + 1 + 0.5 + 0.25 + 0.5)
        self.assertAlmostEqual(split["sources"], 0.25 + 0.5)
        self.assertAlmostEqual(split["sinks"], 1)
        self.assertAlmostEqual(split["driver"], 0.5 + 0.5)

    def test_sync_write_stage_gives_the_upsert_sort_to_ingest(self):
        stage = {"nodes": ["Execute InsertIntoHadoopFsRelationCommand", "Sort", "Window"],
                 "run_ms": 100, "timings_ms": {"Sort/sort time": 30}, "run_ms_by_scan": {"": 100}}
        self.assertEqual(layers.stage_layers("sync_steady", stage, False),
                         {"ingest": 0.3, "sinks": 0.7})
        scan = {"nodes": ["Scan json", "Scan parquet"], "run_ms": 40, "timings_ms": {},
                "run_ms_by_scan": {"Scan json": 10, "Scan parquet": 30}}
        self.assertEqual(layers.stage_layers("sync_steady", scan, False),
                         {"ingest": 0.25, "sources": 0.75})
        self.assertEqual(layers.stage_layers("dedup_ticks", scan, True), {"sinks": 1.0})

    def test_percentile_rank_counts_samples_beyond(self):
        xs = list(range(1, 41))
        self.assertEqual(run.percentile_rank(xs, 75), (30, 10))
        self.assertEqual(run.percentile_rank([5.0], 90), (5.0, 0))


class SmokeTest(unittest.TestCase):
    def test_all_workloads_pass_their_checks(self):
        scratch = os.path.join(run.ROOT, ".perfbench")
        os.makedirs(scratch, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as results:
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--smoke",
                                "--results", results], capture_output=True, text=True, timeout=170)
            self.assertEqual(r.returncode, 0, r.stdout[-3000:] + r.stderr[-3000:])
            final = json.loads(r.stdout.strip().splitlines()[-1])
            self.assertTrue(final["correct"])
            self.assertEqual(final["failed"], 0)
            with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
                per_layer = [m["name"] for m in json.load(fh)["per_layer"]]
            for w in ("sync_steady", "sync_backfill", "dedup_ticks"):
                for name in per_layer:
                    self.assertIn(f"{w}.{name}", final["metrics"])
            saved = [f for f in os.listdir(results) if f.endswith(".spans.jsonl")]
            self.assertEqual(len(saved), 3)


if __name__ == "__main__":
    unittest.main()
