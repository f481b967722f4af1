"""Unit tests of tools/trigger_phases.py over a small synthetic event log.

Run from the repository root: python3 -m unittest tools/test_trigger_phases.py
"""
import contextlib
import importlib.util
import io
import json
import os
import tempfile
import unittest

_spec = importlib.util.spec_from_file_location(
    "trigger_phases", os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                   "trigger_phases.py"))
tp = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(tp)

T0 = 1767225600000  # 2026-01-01T00:00:00.000Z


def progress(batch, start_ms, rows, trigger_ms):
    iso = tp.datetime.datetime.fromtimestamp(
        start_ms / 1000, tp.datetime.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
    return {"Event": tp.PROGRESS, "progress": {
        "batchId": batch, "timestamp": iso, "numInputRows": rows,
        "durationMs": {"latestOffset": 3, "getBatch": 1, "addBatch":
                       trigger_ms - 10, "walCommit": 4,
                       "triggerExecution": trigger_ms}}}


def sql(i, start, end, group=None):
    s = {"Event": tp.SQL_START, "executionId": i, "time": start}
    if group is not None:
        s["jobGroupId"] = group
    return [s, {"Event": tp.SQL_END, "executionId": i, "time": end}]


def job(j, execution, group, submitted, completed):
    return [{"Event": "SparkListenerJobStart", "Job ID": j,
             "Submission Time": submitted,
             "Properties": {"spark.sql.execution.id": str(execution),
                            "spark.jobGroup.id": group}},
            {"Event": "SparkListenerJobEnd", "Job ID": j,
             "Completion Time": completed}]


def trigger(batch, t, first_exec, first_job, view_ms):
    """One data trigger at t: an apply execution with two jobs, a
    job-less apply execution, and a view execution of `view_ms` with one
    job; the second apply execution names its group only through the
    start event, the first only through its jobs."""
    e, j = first_exec, first_job
    return ([progress(batch, t, 50, 400)] +
            sql(e, t + 10, t + 100) +
            job(j, e, "apply", t + 30, t + 60) +
            job(j + 1, e, "apply", t + 70, t + 95) +
            sql(e + 1, t + 110, t + 115, group="apply") +
            sql(e + 2, t + 200, t + 200 + view_ms) +
            job(j + 2, e + 2, "view", t + 240, t + 190 + view_ms))


EVENTS = (trigger(7, T0, 0, 0, 150) +
          # an empty trigger is not a data trigger
          [progress(8, T0 + 1000, 0, 20)] +
          trigger(9, T0 + 2000, 10, 10, 250) +
          # a nested execution's job counts toward the outer one
          sql(13, T0 + 2260, T0 + 2300) +
          job(13, 13, "view", T0 + 2270, T0 + 2290) +
          # outside every trigger, and in a group not asked for
          sql(20, T0 + 5000, T0 + 5100, group="apply") +
          sql(21, T0 + 2150, T0 + 2160, group="feed"))


def fork(ms):
    """A jdk.ProcessStart event, as `jfr print --json` prints it, at
    epoch ms `ms` plus 0.5 ms (nanosecond digits)."""
    iso = tp.datetime.datetime.fromtimestamp(
        ms // 1000, tp.datetime.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
    return {"type": "jdk.ProcessStart", "values": {
        "startTime": f"{iso}.{ms % 1000:03d}500000Z", "duration": "PT0S",
        "pid": 1, "command": "chmod 644 x"}}


# trigger 7: two inside apply.1, one between executions; trigger 9: one
# inside view.1; one before the first trigger, one after the last
FORKS = {"recording": {"events": [
    fork(T0 - 5), fork(T0 + 40), fork(T0 + 99), fork(T0 + 150),
    fork(T0 + 2250), fork(T0 + 9000),
    {"type": "jdk.ThreadStart", "values": {"startTime":
                                           "2026-01-01T00:00:00.050Z"}}]}}


class TriggerPhasesTest(unittest.TestCase):
    def rows(self, groups=("apply", "view")):
        triggers, execs = tp.parse(EVENTS)
        return tp.breakdown(triggers, execs, set(groups))

    def test_one_row_per_data_trigger(self):
        rows = self.rows()
        self.assertEqual([r["batch"] for r in rows], [7, 9])
        self.assertEqual(rows[0]["addBatch"], 390)
        self.assertEqual(rows[0]["triggerExecution"], 400)

    def test_execution_columns(self):
        r = self.rows()[0]
        # apply.1: starts 10 ms into the trigger, first job at +30, last
        # job ends at +95
        self.assertEqual((r["apply.1.gap"], r["apply.1.pre"],
                          r["apply.1.job"], r["apply.1.n"]),
                         (10, 20, 65, 2))
        # apply.2 ran no job: all of it is pre
        self.assertEqual((r["apply.2.gap"], r["apply.2.pre"],
                          r["apply.2.job"], r["apply.2.n"]),
                         (10, 5, 0, 0))
        self.assertEqual((r["view.1.gap"], r["view.1.pre"],
                          r["view.1.job"], r["view.1.n"]),
                         (85, 40, 100, 1))

    def test_nested_execution_counts_toward_the_outer_one(self):
        r = self.rows()[1]
        self.assertEqual((r["view.1.pre"], r["view.1.job"], r["view.1.n"]),
                         (40, 200, 2))
        self.assertNotIn("view.2.n", r)

    def test_groups_filter(self):
        r = self.rows(groups=("view",))[0]
        self.assertNotIn("apply.1.n", r)
        self.assertEqual(r["view.1.gap"], 200)

    def test_medians_and_render(self):
        rows = self.rows()
        cols = tp.columns(rows)
        self.assertEqual(cols[:4], ["batch", "latestOffset", "getBatch",
                                    "addBatch"])
        med = tp.medians(rows, cols)
        self.assertEqual(med["view.1.job"], 150)
        self.assertEqual(med["apply.1.n"], 2)
        text = tp.render(rows, cols, med)
        self.assertEqual(len(text.splitlines()), 4)
        self.assertTrue(text.splitlines()[-1].lstrip().startswith("median"))

    def test_jfr_timestamps_keep_sub_millisecond_digits(self):
        self.assertEqual(tp.jfr_ms("2026-01-01T00:00:00.040500000Z"),
                         T0 + 40.5)
        self.assertEqual(tp.jfr_ms("2026-01-01T00:00:01Z"), T0 + 1000)

    def test_forks_per_trigger_and_execution(self):
        triggers, execs = tp.parse(EVENTS)
        forks = sorted(tp.jfr_ms(e["values"]["startTime"])
                       for e in FORKS["recording"]["events"]
                       if e["type"] == "jdk.ProcessStart")
        r7, r9 = tp.breakdown(triggers, execs, {"apply", "view"}, forks)
        self.assertEqual((r7["forks"], r7["apply.1.forks"],
                          r7["apply.2.forks"], r7["view.1.forks"]),
                         (3, 2, 0, 0))
        self.assertEqual((r9["forks"], r9["apply.1.forks"],
                          r9["view.1.forks"]), (1, 0, 1))
        # forks go right after the stream phases
        cols = tp.columns([r7, r9])
        self.assertEqual(cols[cols.index("forks") - 1], "triggerExecution")
        # without a recording there is no forks column
        self.assertNotIn("forks", tp.breakdown(triggers, execs, {"apply"})[0])

    def test_main_reads_a_jfr_json_file(self):
        paths = []
        for suffix, body in ((".json", "\n".join(json.dumps(e)
                                                  for e in EVENTS)),
                             (".json", json.dumps(FORKS))):
            with tempfile.NamedTemporaryFile("w", suffix=suffix,
                                             delete=False) as f:
                f.write(body)
            paths.append(f.name)
        out = io.StringIO()
        try:
            with contextlib.redirect_stdout(out):
                self.assertEqual(tp.main([paths[0], "--json", "--jfr",
                                          paths[1]]), 0)
        finally:
            for p in paths:
                os.unlink(p)
        got = json.loads(out.getvalue())
        self.assertEqual([r["forks"] for r in got["triggers"]], [3, 1])
        self.assertEqual(got["median"]["apply.1.forks"], 1)

    def test_main_reads_a_log_file(self):
        with tempfile.NamedTemporaryFile("w", suffix=".json",
                                         delete=False) as f:
            f.write("\n".join(json.dumps(e) for e in EVENTS) + "\n")
        out = io.StringIO()
        try:
            with contextlib.redirect_stdout(out):
                self.assertEqual(tp.main([f.name, "--json"]), 0)
        finally:
            os.unlink(f.name)
        self.assertEqual(
            [r["batch"] for r in json.loads(out.getvalue())["triggers"]],
            [7, 9])


if __name__ == "__main__":
    unittest.main()
