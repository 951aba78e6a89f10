"""Tests for the benchmark's own code. Run: python3 -m unittest discover -s perfbench/tests"""
import sys
import time
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import gen  # noqa: E402
import loadgen  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertTrue(stats.reportable(20, 50))
        self.assertFalse(stats.reportable(19, 50))
        self.assertTrue(stats.reportable(100, 90))
        self.assertFalse(stats.reportable(99, 90))
        self.assertTrue(stats.reportable(1000, 99))
        self.assertFalse(stats.reportable(999, 99))

    def test_value_is_nearest_rank(self):
        self.assertIsNone(stats.percentile(list(range(1, 20)), 50))
        self.assertEqual(stats.percentile(list(range(20, 0, -1)), 50), 10)
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90)
        self.assertIsNone(stats.percentile([], 50))


class SelfTime(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start_ns": start, "end_ns": end}

    def test_children_are_subtracted_once(self):
        spans = [self.span(0, -1, 0, 100),
                 self.span(1, 0, 10, 30), self.span(2, 0, 20, 50),  # overlapping
                 self.span(3, 0, 90, 120),                          # ends after the parent
                 self.span(4, 1, 12, 18)]                           # grandchild
        s = stats.self_times(spans)
        self.assertEqual(s[0], 100 - 40 - 10)
        self.assertEqual(s[1], 20 - 6)
        self.assertEqual(s[2], 30)
        self.assertEqual(s[4], 6)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([self.span(7, -1, 5, 9)]), {7: 4})


class Generator(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        a, ta = gen.raw_listings(7)
        b, tb = gen.raw_listings(7)
        self.assertEqual(a, b)
        self.assertEqual(ta, tb)
        self.assertNotEqual(a, gen.raw_listings(8)[0])

    def test_truth_counts_the_injected_dirt(self):
        raw, truth = gen.raw_listings(3)
        lines = raw.decode("utf-8").splitlines()
        self.assertEqual(lines[0].split(","), gen.COLUMNS)
        self.assertEqual(truth["rows_in"], gen.ROWS)
        issues = {k: v for k, v in gen.DIRT.items() if k != "duplicate"}
        self.assertEqual(truth["issues"], issues)
        dropped = gen.DIRT["duplicate"] + gen.DIRT["missing_product_name"] + gen.DIRT["missing_supplier_name"]
        self.assertEqual(truth["rows_clean"], gen.ROWS - dropped)
        self.assertEqual(len(truth["keywords"]), 21)

    def test_page_views_follow_the_phases(self):
        v = gen.page_views(5, ["A", "B", "C"], ["k1", "k2"], [("low", 2.0, 3.0), ("high", 4.0, 1.0)])
        self.assertEqual(v, gen.page_views(5, ["A", "B", "C"], ["k1", "k2"],
                                           [("low", 2.0, 3.0), ("high", 4.0, 1.0)]))
        self.assertEqual([x["phase"] for x in v], ["low"] * 6 + ["high"] * 4)
        self.assertEqual(v[6]["due_s"], 3.0)
        self.assertAlmostEqual(v[-1]["due_s"], 3.75)
        self.assertTrue(all(not (x["state"] and x["keyword"]) for x in v))

    def test_the_schedule_draws_the_mix(self):
        mix = gen.filter_mix(["A", "B", "C"], ["k1", "k2"])
        self.assertEqual(len(mix), 12)
        phases = [("low", 0.5, 8.0), ("high", 1.0, 8.0)]
        by_phase = {"low": set(), "high": set()}
        for seed in range(20):
            v = gen.page_views(seed, ["A", "B", "C"], ["k1", "k2"], phases)
            # twelve page views: the whole mix, in a seeded order
            self.assertEqual(sorted((x["state"], x["keyword"]) for x in v), sorted(mix))
            for x in v:
                by_phase[x["phase"]].add((x["state"], x["keyword"]))
        # every filter of the mix can land in either phase
        self.assertEqual(by_phase["low"], set(mix))
        self.assertEqual(by_phase["high"], set(mix))


class OpenLoop(unittest.TestCase):
    def test_latency_counts_from_the_due_time(self):
        # one connection, each page view takes 50 ms, due every 10 ms: the
        # generator falls behind and every later view waits for the earlier
        recs = loadgen.run_schedule([i * 0.01 for i in range(6)],
                                    lambda i, w: time.sleep(0.05) or i, workers=1)
        self.assertEqual([r["result"] for r in recs], list(range(6)))
        self.assertLess(recs[0]["late_s"], 0.02)
        self.assertGreater(recs[-1]["late_s"], 0.15)
        for r in recs:
            self.assertGreaterEqual(r["latency_s"], r["late_s"] + 0.045)

    def test_no_lateness_under_capacity(self):
        recs = loadgen.run_schedule([0.0, 0.05, 0.10], lambda i, w: None, workers=2)
        self.assertTrue(all(r["late_s"] < 0.02 and r["latency_s"] < 0.03 for r in recs))

    def test_failures_are_recorded(self):
        def send(i, w):
            raise ValueError(i)
        recs = loadgen.run_schedule([0.0], send)
        self.assertIsInstance(recs[0]["result"], ValueError)


if __name__ == "__main__":
    unittest.main()
