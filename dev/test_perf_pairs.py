"""Unit tests of dev/perf_pairs.py's verdict rule and pair records.

    python3 -m unittest discover -s dev -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from perf_pairs import run_pair, verdict  # noqa: E402


def pairs(parent, change):
    return list(zip(parent, change))


class VerdictTest(unittest.TestCase):
    TIGHT = [10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0]

    def test_worse_beyond_the_bound(self):
        self.assertEqual(verdict(pairs(self.TIGHT, [x * 1.3 for x in self.TIGHT]), "lower", 0.25), "worse")
        self.assertEqual(verdict(pairs(self.TIGHT, [x * 0.7 for x in self.TIGHT]), "higher", 0.25), "worse")

    def test_slower_but_inside_the_bound(self):
        self.assertEqual(verdict(pairs(self.TIGHT, [x * 1.2 for x in self.TIGHT]), "lower", 0.25),
                         "within bound")

    def test_gain_needs_nine_of_ten_wins_and_a_move_past_the_iqr(self):
        faster = [x - 1.0 for x in self.TIGHT]
        self.assertEqual(verdict(pairs(self.TIGHT, faster), "lower", 0.25), "gain")
        two_losses = faster[:8] + [11.0, 11.0]
        self.assertEqual(verdict(pairs(self.TIGHT, two_losses), "lower", 0.25), "within bound")
        inside_iqr = [x - 0.01 for x in self.TIGHT]
        self.assertEqual(verdict(pairs(self.TIGHT, inside_iqr), "lower", 0.25), "within bound")
        self.assertEqual(verdict(pairs(self.TIGHT, [x + 1.0 for x in self.TIGHT]), "higher", 0.25), "gain")

    def test_wide_parent_spread_is_unresolved(self):
        wide = [5.0, 15.0, 5.0, 15.0, 5.0, 15.0, 5.0, 15.0, 5.0, 15.0]
        self.assertEqual(verdict(pairs(wide, wide), "lower", 0.25), "unresolved")

    def test_wide_spread_resolves_when_every_change_run_beats_every_parent_run(self):
        wide = [5.0, 15.0, 5.0, 15.0, 5.0, 15.0, 5.0, 15.0, 5.0, 15.0]
        # Resolved, but no gain: the move (10 -> 4) is inside the parent's IQR (10).
        self.assertEqual(verdict(pairs(wide, [4.0] * 10), "lower", 0.25), "within bound")

    def test_ties_count_for_neither_side(self):
        self.assertEqual(verdict(pairs(self.TIGHT, self.TIGHT), "lower", 0.25), "within bound")


class RunPairTest(unittest.TestCase):
    def test_each_run_records_the_loadavg_taken_just_before_it(self):
        events = []
        loads = iter([(3.0, 2.0, 1.0), (7.5, 4.0, 2.0)])

        def loadavg():
            events.append("load")
            return next(loads)

        def run(checkout, seed):
            events.append(checkout)
            return {"correct": True, "metrics": {"pass_s": {"value": 1.0}}}

        pair = run_pair({"parent": "p", "change": "c"}, ("change", "parent"), 4, run, loadavg)
        self.assertEqual(events, ["load", "c", "load", "p"])
        self.assertEqual(pair["first"], "change")
        self.assertEqual(pair["seed"], 4)
        self.assertEqual(pair["change"]["loadavg"], [3.0, 2.0, 1.0])
        self.assertEqual(pair["parent"]["loadavg"], [7.5, 4.0, 2.0])
        self.assertEqual(pair["parent"]["metrics"], {"pass_s": {"value": 1.0}})


if __name__ == "__main__":
    unittest.main()
