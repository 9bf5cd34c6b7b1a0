#!/usr/bin/env python3
"""Checks scripts/ab.py's verdicts on hand-made run logs.

  python3 scripts/test_ab.py
"""
import io
import json
import os
import sys
import unittest
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import ab  # noqa: E402

METRICS = [{"name": "items_per_s", "better": "higher", "bound": 0.25},
           {"name": "latency_p50_s", "better": "lower", "bound": 0.25}]


def log(pairs):
    """A run log as ab.py writes it, one line per run, from
    [(seed, parent metrics, change metrics)]."""
    lines = []
    for seed, parent, change in pairs:
        for side, metrics in (("parent", parent), ("change", change)):
            rec = {"metrics": {k: {"value": v} for k, v in metrics.items()}}
            lines.append(json.dumps({"workload": "w", "seed": seed, "side": side,
                                     "record": rec, "flags": []}))
    return [json.loads(line) for line in lines]


def summarize(runs):
    with redirect_stdout(io.StringIO()):
        return ab.summarize(runs, METRICS, "test")


class VerdictTest(unittest.TestCase):

    def test_gain_on_ten_pairs_won_nine(self):
        # items: parent 2000..2090, change 2600.. except pair 3 (a loss);
        # latency moves the other way and must read as a gain too
        pairs = [(s, {"items_per_s": 2000 + 10 * s, "latency_p50_s": 0.30 + 0.001 * s},
                  {"items_per_s": 1900 if s == 3 else 2600 + 10 * s,
                   "latency_p50_s": 0.35 if s == 3 else 0.20})
                 for s in range(10)]
        v = summarize(log(pairs))
        self.assertTrue(v["items_per_s"].startswith("gain (won 9/10"), v)
        self.assertTrue(v["latency_p50_s"].startswith("gain (won 9/10"), v)

    def test_no_gain_below_nine_tenths(self):
        pairs = [(s, {"items_per_s": 2000 + 10 * s, "latency_p50_s": 0.3},
                  {"items_per_s": 1900 if s in (3, 7) else 2600, "latency_p50_s": 0.3})
                 for s in range(10)]
        v = summarize(log(pairs))
        self.assertFalse(v["items_per_s"].startswith("gain"), v)
        # a tie counts for neither side
        self.assertEqual(v["latency_p50_s"], "within bound")

    def test_no_gain_when_the_gap_is_inside_the_parent_iqr(self):
        # the change wins every pair by 1, but the parent spreads over 900
        pairs = [(s, {"items_per_s": 1000 + 100 * s, "latency_p50_s": 0.3},
                  {"items_per_s": 1001 + 100 * s, "latency_p50_s": 0.3})
                 for s in range(10)]
        v = summarize(log(pairs))
        self.assertFalse(v["items_per_s"].startswith("gain"), v)
        self.assertTrue(v["items_per_s"].startswith("unresolved"), v)

    def test_no_gain_under_ten_pairs(self):
        pairs = [(s, {"items_per_s": 2000, "latency_p50_s": 0.3},
                  {"items_per_s": 3000, "latency_p50_s": 0.3}) for s in range(9)]
        v = summarize(log(pairs))
        self.assertEqual(v["items_per_s"], "every change run better than every parent run")

    def test_worse_beyond_bound(self):
        pairs = [(s, {"items_per_s": 2000 + s, "latency_p50_s": 0.3},
                  {"items_per_s": 1000 + s, "latency_p50_s": 0.3}) for s in range(10)]
        v = summarize(log(pairs))
        self.assertEqual(v["items_per_s"], "WORSE beyond bound")


if __name__ == "__main__":
    unittest.main()
