"""Tests of the benchmark's correctness gate.

    python3 -m unittest perfbench/test_gate.py

The unit tests build small replication outputs by hand and check that the
gate passes the right one and fails a lost segment, a replayed segment and
a stale view; that a query_mix query without a matching result fails; and
when a repl_tail run counts as unable to keep its publish rate. With
PERFBENCH_E2E=1 two more tests run the real harness
(building it first if needed) with a lost and a replayed segment, and
expect a failing exit code and `"correct": false`.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gate  # noqa: E402
import run  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))

# initial rows: (user_id, last_ts_ms, last_event_id, last_value)
INITIAL = [(k, 100 + k, k, k + 0.25) for k in range(6)]
# events: (user_id, ts_ms, event_id, value, event_type, seg)
EVENTS = [
    (1, 1000, 100, 10.5, "update", 0), (2, 1001, 101, 20.0, "update", 0),
    (1, 1002, 102, 11.0, "update", 1), (3, 1003, 103, 0.0, "error", 1),
    (1, 1004, 104, 12.75, "update", 2), (7, 1005, 105, 7.0, "update", 2),
    (2, 1006, 106, 21.5, "update", 3), (4, 1007, 107, 0.0, "error", 3),
]


def apply(order):
    """Replicate by hand: per segment, last writer wins, then each key's
    row is replaced (or deleted), the way TxLog.applyChanges lands it."""
    table = {k: (ts, lsn, v) for k, ts, lsn, v in INITIAL}
    for seg in order:
        batch = {}
        for k, ts, lsn, v, et, s in EVENTS:
            if s == seg and (k not in batch or (ts, lsn) > batch[k][:2]):
                batch[k] = (ts, lsn, v, et == "error")
        for k, (ts, lsn, v, dele) in batch.items():
            if dele:
                table.pop(k, None)
            else:
                table[k] = (ts, lsn, v)
    return table


def census(table):
    bands = {}
    for k, (_, _, v) in table.items():
        n, c = bands.get(k % 10, (0, 0))
        bands[k % 10] = (n + 1, c + round(v * 100))
    return [[b, n, c] for b, (n, c) in sorted(bands.items())]


class GateTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        root = self.tmp.name
        self.paths = {d: os.path.join(root, d)
                      for d in ("initial", "events", "final")}
        for d in self.paths.values():
            os.makedirs(d)
        cols = ["user_id", "last_ts_ms", "last_event_id", "last_value"]
        pq.write_table(pa.table(list(zip(*INITIAL)), names=cols),
                       os.path.join(self.paths["initial"], "p.parquet"))
        pq.write_table(pa.table(list(zip(*EVENTS)), names=[
            "user_id", "ts_ms", "event_id", "value", "event_type", "seg"]),
            os.path.join(self.paths["events"], "p.parquet"))

    def tearDown(self):
        self.tmp.cleanup()

    def check(self, table, view=None, segments=range(4),
              delivered=(1, 2, 3)):
        rows = sorted((k,) + r for k, r in table.items())
        cols = ["user_id", "last_ts_ms", "last_event_id", "last_value"]
        pq.write_table(pa.table(list(zip(*rows)), names=cols),
                       os.path.join(self.paths["final"], "p.parquet"))
        return gate.check_repl(dict(
            self.paths, segments=list(segments), timed=[1, 2, 3],
            delivered=delivered,
            view=census(table) if view is None else view))

    def test_in_order_replication_passes(self):
        ok, why = self.check(apply([0, 1, 2, 3]))
        self.assertTrue(ok, why)

    def test_lost_segment_fails(self):
        ok, why = self.check(apply([0, 1, 3]))
        self.assertFalse(ok)
        self.assertIn("final snapshot", why)

    def test_replayed_segment_fails(self):
        # segment 1 arrives again after segment 3 (at-least-once delivery
        # without the txn marker): key 1 falls back to 11.0
        ok, why = self.check(apply([0, 1, 2, 3, 1]))
        self.assertFalse(ok)
        self.assertIn("final snapshot", why)

    def test_lost_delivery_fails(self):
        ok, why = self.check(apply([0, 1, 2, 3]), delivered=[1, 3])
        self.assertFalse(ok)
        self.assertIn("lost [2]", why)

    def test_repeated_delivery_fails(self):
        ok, why = self.check(apply([0, 1, 2, 3]), delivered=[1, 2, 3, 1])
        self.assertFalse(ok)
        self.assertIn("repeated [1]", why)

    def test_stale_view_fails(self):
        table = apply([0, 1, 2, 3])
        view = census(table)
        view[0][2] += 1
        ok, why = self.check(table, view=view)
        self.assertFalse(ok)
        self.assertIn("view", why)


class MixVerdictTest(unittest.TestCase):
    """The query_mix verdict read from tools/check.py's output."""

    NAMES = ["q_a", "q_b", "q_c"]

    def test_every_pass_counts_rows(self):
        out = ("PASS q_a (3 rows)\nPASS q_b (0 rows)\nPASS q_c (12 rows)\n"
               "== 3 pass, 0 fail, 3 results ==")
        self.assertEqual(gate.parse_check(out, self.NAMES),
                         {"q_a": 3, "q_b": 0, "q_c": 12})

    def test_missing_result_fails(self):
        # q_b threw in its first call, so no result directory was written
        # and check.py printed nothing for it
        out = "PASS q_a (3 rows)\nPASS q_c (12 rows)\n"
        self.assertIsNone(gate.parse_check(out, self.NAMES)["q_b"])

    def test_fail_and_skip_fail(self):
        out = ("PASS q_a (3 rows)\nFAIL q_b: rowcount spark=1 oracle=2\n"
               "SKIP q_c: no oracle (rows=4)\n")
        res = gate.parse_check(out, self.NAMES)
        self.assertEqual(res, {"q_a": 3, "q_b": None, "q_c": None})

    def test_mix_list_is_read(self):
        names = gate.mix_names(os.path.join(HERE, "query_mix.txt"))
        self.assertEqual(len(names), len(set(names)))
        self.assertIn("txlog_changefeed", names)


class OpenLoopValidityTest(unittest.TestCase):
    """When a repl_tail run is judged unable to keep its publish rate."""

    @staticmethod
    def phase(sizes, late=0.0):
        return {"late_max_s": late,
                "batches": [{"segs": list(range(n))} for n in sizes]}

    def test_ramp_from_idle_is_valid(self):
        # the first triggers after an idle stream take one segment each
        self.assertIsNone(run.open_loop_validity(self.phase([1, 1, 3, 4, 3])))

    def test_level_backlog_is_valid(self):
        self.assertIsNone(run.open_loop_validity(
            self.phase([1, 2, 3, 3, 4, 3, 4, 2])))

    def test_growing_backlog_is_invalid(self):
        why = run.open_loop_validity(self.phase([1, 2, 2, 3, 5, 7, 9, 3]))
        self.assertIn("backlog grew", why)

    def test_late_generator_is_invalid(self):
        why = run.open_loop_validity(self.phase([1, 2, 2], late=0.5))
        self.assertIn("late", why)


@unittest.skipUnless(os.environ.get("PERFBENCH_E2E") == "1",
                     "set PERFBENCH_E2E=1 to run the harness itself")
class HarnessGateTest(unittest.TestCase):

    def run_corrupt(self, how):
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             "repl_tail", "--seed", "5", "--seconds", "4", "--trace", "0",
             "--corrupt", how], capture_output=True, text=True, timeout=1200)
        self.assertNotEqual(r.returncode, 0, r.stderr[-2000:])
        res = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], res["attempted"])

    def test_dropped_segment_fails_the_run(self):
        self.run_corrupt("drop")

    def test_duplicated_segment_fails_the_run(self):
        self.run_corrupt("dup")


if __name__ == "__main__":
    unittest.main()
