"""Tests of the benchmark's own reporting code.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import pathlib
import unittest

import report

BENCHMARK = json.loads((pathlib.Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(report.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(report.median([4.0, 1.0, 2.0, 3.0]), 2.5)

    def test_tail_falls_back_to_max_with_count(self):
        self.assertEqual(report.tail([1.0, 5.0, 2.0]), ("max", 5.0, 3))
        self.assertEqual(report.tail([7.0] * 19), ("max", 7.0, 19))

    def test_tail_takes_highest_percentile_with_ten_samples_beyond(self):
        label, value, n = report.tail([float(i) for i in range(20)])
        self.assertEqual((label, n), ("p50", 20))
        self.assertAlmostEqual(value, 9.5)
        label, value, n = report.tail([float(i) for i in range(200)])
        self.assertEqual((label, n), ("p95", 200))
        self.assertAlmostEqual(value, 189.05)
        self.assertEqual(report.tail([1.0] * 1000)[0], "p99")


class SpanTest(unittest.TestCase):
    SPANS = [
        {"id": 0, "parent": -1, "name": "pass", "wall_s": 10.0, "jobs": 9},
        {"id": 1, "parent": 0, "name": "ops.pagerank", "wall_s": 6.0, "jobs": 5},
        {"id": 2, "parent": 0, "name": "ops.cc", "wall_s": 3.0, "jobs": 4},
        {"id": 3, "parent": 2, "name": "inner", "wall_s": 1.0, "jobs": 1},
        {"id": 4, "parent": -1, "name": "probes", "wall_s": 2.0, "jobs": 0},
    ]

    def test_self_time_is_wall_minus_direct_children(self):
        selfs = report.self_times(self.SPANS)
        self.assertAlmostEqual(selfs[0], 1.0)
        self.assertAlmostEqual(selfs[1], 6.0)
        self.assertAlmostEqual(selfs[2], 2.0)
        self.assertAlmostEqual(selfs[3], 1.0)
        self.assertAlmostEqual(selfs[4], 2.0)

    def test_timer_tree_nests_children_under_parents(self):
        lines = report.timer_tree(self.SPANS)
        self.assertEqual([l.split()[0] if not l.lstrip().startswith("|--") else l.split()[1]
                          for l in lines], ["pass", "ops.pagerank", "ops.cc", "inner", "probes"])
        self.assertTrue(lines[3].startswith("    |-- inner"))
        self.assertIn("self    1.000 s", lines[0])

    def test_warn_lines_counts_only_inside_the_pass(self):
        log = "\n".join([
            "25/01/01 WARN before", "perfbench: pass 0 begin traced=true",
            "25/01/01 12:00:00 WARN BlockManager: x", "INFO y", "25/01/01 WARN z",
            "perfbench: pass 0 end", "25/01/01 WARN after"])
        self.assertEqual(report.warn_lines(log, 0), 2)


class MetricNamesTest(unittest.TestCase):
    def test_every_reported_name_is_well_formed_and_declared(self):
        e2e = {m["name"] for m in BENCHMARK["end_to_end"]}
        layer = {m["name"] for m in BENCHMARK["per_layer"]}
        self.assertEqual({n for n, _ in report.per_layer_names()}, layer)
        self.assertLessEqual(len(layer), 128)
        for name in e2e | layer:
            self.assertRegex(name, report.NAME_RE)
        units = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
        for name, unit in report.per_layer_names():
            self.assertEqual(units[name], unit)

    def test_reports_use_exactly_the_declared_names(self):
        result = {
            "setup": {"session_s": 4.0, "prep_s": [3.0, 1.0, 2.0]},
            "passes": [{"pass": 0, "traced": True, "ok": True, "wall_s": 12.0,
                        "calls": {"ops.cc": 12.0}}],
            "peak_rss_mb": 2000.0, "reported": {}, "trace_totals": {"spill_mb": 0.0},
        }
        spans = [{"id": 0, "parent": -1, "name": "ops.cc", "pass": 0, **{
            f: 1.0 for f, _ in report.CALL_FIELDS}}]
        layer = report.per_layer(result, spans, "", [10.0, 11.0])
        self.assertEqual(report.undeclared(layer, {m["name"] for m in BENCHMARK["per_layer"]}), [])
        self.assertEqual(set(layer), {m["name"] for m in BENCHMARK["per_layer"]})
        self.assertAlmostEqual(layer["trace.overhead_s"], 1.5)
        self.assertEqual(layer["ops.cc.jobs"], 1.0)
        self.assertEqual(layer["ops.lp.jobs"], 0)
        result["passes"][0]["traced"] = False
        e2e = report.end_to_end(result)
        self.assertEqual(set(e2e), {m["name"] for m in BENCHMARK["end_to_end"]})
        self.assertAlmostEqual(e2e["setup_s"], 6.0)
        self.assertEqual(report.undeclared({"bad name": 1, "setup_s": 1}, e2e), ["bad name"])


if __name__ == "__main__":
    unittest.main()
