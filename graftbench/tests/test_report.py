"""Reporting-rule checks: the tail percentile and span self time.

    python3 -m unittest discover -s graftbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import report  # noqa: E402


class TailRuleTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(report.tail_percentile(19))
        self.assertEqual(report.tail_percentile(20), 50)
        self.assertEqual(report.tail_percentile(39), 50)
        self.assertEqual(report.tail_percentile(40), 75)
        self.assertEqual(report.tail_percentile(199), 90)
        self.assertEqual(report.tail_percentile(307), 95)
        self.assertEqual(report.tail_percentile(1000), 99)
        self.assertEqual(report.tail_percentile(10_000), 99.9)

    def test_summary_counts_and_values(self):
        xs = list(range(1, 308))  # 307 samples, as in the full registry
        s = report.summarize(xs)
        self.assertEqual((s["n"], s["tail_p"]), (307, 95))
        self.assertEqual(s["tail"], 292)  # nearest rank: ceil(0.95 * 307)
        self.assertGreaterEqual(sum(1 for x in xs if x > s["tail"]), 10)
        self.assertEqual(s["p50"], 154)

    def test_few_samples_report_the_median_as_tail(self):
        s = report.summarize([5.0, 1.0, 3.0, 2.0])
        self.assertEqual((s["tail_p"], s["tail"], s["p50"]), (50, 2.5, 2.5))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        parent = {"start": 0.0, "end": 100.0}
        kids = [{"start": 10.0, "end": 40.0}, {"start": 30.0, "end": 60.0},
                {"start": 90.0, "end": 120.0}]  # last one runs past the end
        self.assertEqual(report.self_time(parent, kids), 40.0)

    def test_nested_and_disjoint_children(self):
        parent = {"start": 0.0, "end": 10.0}
        kids = [{"start": 1.0, "end": 9.0}, {"start": 2.0, "end": 3.0},
                {"start": -5.0, "end": -1.0}]
        self.assertEqual(report.self_time(parent, kids), 2.0)
        self.assertEqual(report.self_time(parent, []), 10.0)


class LayerMetricsTest(unittest.TestCase):
    def test_driver_gap_excludes_construction_and_job_time(self):
        rec = [
            {"kind": "span", "id": 1, "parent": 0, "op": 1, "name": "q",
             "phase": "measure", "start": 0.0, "end": 1000.0},
            {"kind": "span", "id": 2, "parent": 1, "op": 1,
             "name": "construct", "phase": "measure",
             "start": 0.0, "end": 200.0},
            {"kind": "span", "id": 3, "parent": 1, "op": 1,
             "name": "execute", "phase": "measure",
             "start": 200.0, "end": 1000.0},
            # one job during construction, two overlapping ones after
            {"kind": "job", "id": 0, "op": 1, "parent": 2, "phase": "measure",
             "start": 50.0, "end": 150.0, "ok": True, "stages": []},
            {"kind": "job", "id": 1, "op": 1, "parent": 3, "phase": "measure",
             "start": 300.0, "end": 600.0, "ok": True, "stages": []},
            {"kind": "job", "id": 2, "op": 1, "parent": 3, "phase": "measure",
             "start": 500.0, "end": 700.0, "ok": True, "stages": []},
        ]
        m = report.layer_metrics(rec)
        self.assertEqual(m["construct.s"], 0.2)
        self.assertEqual(m["construct.jobs"], 1)
        self.assertAlmostEqual(m["driver.gap_s"], 0.4)  # 1000-200-400 ms
        self.assertAlmostEqual(m["driver.gap_per_job_ms"], 200.0)
        self.assertAlmostEqual(m["exec.busy_s"], 0.5)


if __name__ == "__main__":
    unittest.main()
