"""Unit tests of the no-regression verdict in tools/pairs.py.

Run from the repository root: python3 -m unittest tools/test_pairs.py
"""
import importlib.util
import os
import unittest

_spec = importlib.util.spec_from_file_location(
    "pairs", os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "pairs.py"))
pairs = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(pairs)


def _runs(median, spread, n=10):
    """n runs evenly spaced around `median`, total width `spread`."""
    return [median - spread / 2 + spread * i / (n - 1) for i in range(n)]


class VerdictTest(unittest.TestCase):
    def test_ok_within_bound(self):
        # lower is better; the change is 10% slower on a steady parent
        self.assertEqual(pairs.verdict(True, 0.25, _runs(1.0, 0.1),
                                       _runs(1.1, 0.1)), "ok")

    def test_ok_when_better(self):
        self.assertEqual(pairs.verdict(True, 0.25, _runs(2.0, 0.2),
                                       _runs(1.0, 0.2)), "ok")

    def test_regressed_lower_is_better(self):
        self.assertEqual(pairs.verdict(True, 0.25, _runs(1.0, 0.1),
                                       _runs(1.4, 0.1)), "regressed")

    def test_regressed_higher_is_better(self):
        self.assertEqual(pairs.verdict(False, 0.25, _runs(10.0, 1.0),
                                       _runs(7.0, 1.0)), "regressed")

    def test_unresolved_when_parent_spread_exceeds_bound(self):
        # parent IQR/median = 0.5 > 0.25 and the runs overlap
        self.assertEqual(pairs.verdict(True, 0.25, _runs(1.0, 1.0),
                                       _runs(1.05, 1.0)), "unresolved")

    def test_wide_spread_but_every_change_run_better_is_ok(self):
        par = _runs(4.0, 3.0)  # 2.5 .. 5.5, IQR/median 0.375
        chg = _runs(1.5, 1.0)  # 1.0 .. 2.0, all below the parent's min
        self.assertEqual(pairs.verdict(True, 0.25, par, chg), "ok")

    def test_summary_rows_carry_the_verdict(self):
        metrics = [{"name": "lag_p50_s", "better": "lower", "bound": 0.25}]
        runs = [({"metrics": {"lag_p50_s": {"value": p}}},
                 {"metrics": {"lag_p50_s": {"value": c}}})
                for p, c in zip(_runs(1.0, 0.1), _runs(1.5, 0.1))]
        rows = pairs.summarize(metrics, [{"parent": p, "change": c}
                                         for p, c in runs])
        self.assertEqual(rows[0]["verdict"], "regressed")


if __name__ == "__main__":
    unittest.main()
