"""Round-trip tests of the benchmark's JSON output.

Run: python3 -m unittest discover -s perfbench/tests
"""
import json
import math
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import record  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


class SummaryLineTest(unittest.TestCase):
    def test_round_trip(self):
        metrics = {"setup_s": 12.345678901234, "pass_s": 3.2, "op_p50_ms": 701.5,
                   "rows_per_s": 8123.25, "retained_heap_mb": 104.3}
        line = record.summary_line({"attempted": 17, "failed": 0}, metrics)
        self.assertNotIn("\n", line)
        back = json.loads(line)
        self.assertEqual(set(back), {"correct", "attempted", "failed", "metrics"})
        self.assertIs(back["correct"], True)
        self.assertEqual((back["attempted"], back["failed"]), (17, 0))
        for k, v in metrics.items():
            self.assertEqual(back["metrics"][k], {"value": v, "unit": record.END_TO_END[k]})

    def test_failures_make_it_incorrect(self):
        back = json.loads(record.summary_line({"attempted": 4, "failed": 1}, {"pass_s": 1.0}))
        self.assertIs(back["correct"], False)

    def test_unparseable_values_are_refused(self):
        for bad in (math.nan, math.inf):
            with self.assertRaises(ValueError):
                record.summary_line({"attempted": 1, "failed": 0}, {"pass_s": bad})


class RecordFileTest(unittest.TestCase):
    def test_round_trip(self):
        full = {"workload": "core_sql", "seed": 7, "calib_s": 2.6331,
                "check": {"attempted": 3, "failed": 0, "problems": ["a \"quoted\"\nline"]},
                "metrics": {"pass_s": 3.25}}
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "result.json")
            record.write(path, full)
            with open(path) as f:
                self.assertEqual(json.load(f), full)

    def test_nan_is_refused(self):
        with tempfile.TemporaryDirectory() as d:
            with self.assertRaises(ValueError):
                record.write(os.path.join(d, "r.json"), {"x": math.nan})


class SpanTest(unittest.TestCase):
    def test_self_time_excludes_children(self):
        sp = record._Spans()
        q = sp.add("query", 0, 100)
        sp.add("build", 0, 30, q)
        sp.add("execute", 30, 100, q)
        j = sp.add("job 1", 40, 60, 2)
        sp.add("stage 1", 40, 50, j)
        spans = {s["name"]: s for s in sp.finish()}
        self.assertEqual(spans["query"]["self_ms"], 0)
        self.assertEqual(spans["execute"]["self_ms"], 50)
        self.assertEqual(spans["job 1"]["self_ms"], 10)

    def test_union_merges_overlaps(self):
        self.assertEqual(record._union_s([(0, 1000), (500, 1500), (3000, 4000)]), 2.5)


@unittest.skipUnless(os.path.exists(BENCHMARK), "BENCHMARK.json not present")
class DeclaredMetricsTest(unittest.TestCase):
    def test_names_and_units_match(self):
        with open(BENCHMARK) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, record.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, record.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
