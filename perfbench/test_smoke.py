#!/usr/bin/env python3
"""The benchmark's own tests: every workload at its tiny smoke size.

    python3 perfbench/test_smoke.py

Each workload runs traced (which also runs it untraced) with all its
output checks, so a change that breaks the benchmark or the system's
outputs fails here. Run from any directory; takes a few minutes.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NOT_USED = "not used by "


class SmokeTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)
        cls.runs = {}
        for w in cls.spec["workloads"]:
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w["name"], "--seed", "7",
                                "--seconds", "3", "--trace", "1", "--smoke"],
                               cwd=ROOT, capture_output=True, text=True, timeout=600)
            cls.runs[w["name"]] = p

    def result(self, name):
        p = self.runs[name]
        self.assertEqual(p.returncode, 0, p.stdout[-3000:] + p.stderr[-3000:])
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        listed = self.spec["per_layer"]
        self.assertEqual(sorted(res["metrics"]), sorted(m["name"] for m in listed))
        for m in listed:
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
        return res, p.stdout

    def test_chart_reads(self):
        _, out = self.result("chart_reads")
        for name in ("read_p95_ms", "cache_hit_ratio", "distinct_requests"):
            self.assertIn(f"metric {name}", out)

    def test_live_feed(self):
        _, out = self.result("live_feed")
        for name in ("fresh_p50_ms", "fresh_p95_ms", "view_p95_ms", "catchup_frames_per_s", "read_p95_ms"):
            self.assertIn(f"metric {name}", out)
        self.assertIn("layer streaming.store.batch_ms_p50", out)

    def test_catalog_heavy(self):
        _, out = self.result("catalog_heavy")
        self.assertIn("metric catalog_s", out)
        self.assertIn("layer catalog.q.ohlcv_reader_1h_ms", out)

    def test_every_layer_metric_is_measured_by_some_workload(self):
        unused = None
        for name in self.runs:
            _, out = self.result(name)
            mine = set()
            for line in out.splitlines():
                if line.startswith(NOT_USED + name):
                    mine = set(line.split(":", 1)[1].split())
            unused = mine if unused is None else unused & mine
        # the smoke catalog runs 2 of the frozen queries
        smoke_q = {"catalog.q.ohlcv_reader_1h_ms", "catalog.q.ts_sliding_heavy_ms"}
        self.assertEqual({m for m in unused if not m.startswith("catalog.q.")}, set())
        self.assertEqual(unused & smoke_q, set())


if __name__ == "__main__":
    unittest.main()
