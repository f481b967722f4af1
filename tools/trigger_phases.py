#!/usr/bin/env python3
"""Per-trigger phase breakdown of a streaming run, from a Spark event log.

Usage (from the repository root):

    python3 tools/trigger_phases.py EVENTLOG [--groups apply,view] [--json]
        [--jfr RECORDING]

EVENTLOG is one Spark event log file: plain JSON lines, or compressed
with zstd (`.zst`/`.zstd`, decompressed with the `zstd` command). To
capture one from a perfbench run without changing the harness, pass the
event-log settings through the JVM:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \\
      -Dspark.eventLog.dir=file:///some/dir" \\
      python3 perfbench/run.py --workload repl_tail --seed 2

For every data trigger (a streaming progress event with input rows) it
prints the stream's own phases (`durationMs` of the progress event:
latestOffset, getBatch, queryPlanning, addBatch, walCommit,
commitOffsets, triggerExecution). For every SQL execution inside that
trigger whose job group is one of `--groups` (a perfbench span name such
as `apply` or `view`), it prints, under the label `<group>.<n>` (the
n-th such execution of the group in the trigger):

    gap   ms from the end of the previous listed execution (or from the
          trigger's start) to this one's start;
    pre   ms from the execution's start to its first job's submission
          (planning and driver work; the whole execution when it ran no
          job);
    job   ms from the first job's submission to the last job's end;
    n     the jobs it ran.

With `--jfr RECORDING` it also counts forked processes: the
`jdk.ProcessStart` events of a Java Flight Recording of the same run
(a `.jfr` file, read with the JDK's `jfr` command, or the JSON that
`jfr print --json --events jdk.ProcessStart` printed). A `forks` column
counts the ones that started inside the trigger, and `<label>.forks`
the ones inside each listed execution, matched by time window. To
record one next to the event log:

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/some/run.jfr,\
settings=profile,dumponexit=true -Dspark.eventLog.enabled=true ..."

The last row is the median of each column over the triggers that have
it. `--json` prints the same as one JSON object instead.
"""
import argparse
import datetime
import json
import statistics
import subprocess
import sys

PROGRESS = ("org.apache.spark.sql.streaming.StreamingQueryListener"
            "$QueryProgressEvent")
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
PHASES = ["latestOffset", "getBatch", "queryPlanning", "addBatch",
          "walCommit", "commitOffsets", "triggerExecution"]


def read_events(path):
    """The log's events, one dict per JSON line."""
    if path.endswith((".zst", ".zstd")):
        text = subprocess.run(["zstd", "-dc", path], check=True,
                              capture_output=True).stdout.decode()
    else:
        with open(path) as f:
            text = f.read()
    return [json.loads(line) for line in text.splitlines() if line.strip()]


def epoch_ms(iso):
    """Epoch milliseconds of a progress event's ISO-8601 UTC timestamp."""
    t = datetime.datetime.strptime(iso.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f")
    return int(t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000)


def jfr_ms(iso):
    """Epoch milliseconds (fractional) of a JFR ISO-8601 UTC timestamp,
    whose fraction may run to nanoseconds."""
    base, _, frac = iso.rstrip("Z").partition(".")
    t = datetime.datetime.strptime(base, "%Y-%m-%dT%H:%M:%S")
    return (t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000 +
            (float("0." + frac) * 1000 if frac else 0.0))


def read_forks(path):
    """Start times (epoch ms, ascending) of the recording's
    jdk.ProcessStart events."""
    if path.endswith(".json"):
        with open(path) as f:
            text = f.read()
    else:
        text = subprocess.run(["jfr", "print", "--json", "--events",
                               "jdk.ProcessStart", path], check=True,
                              capture_output=True).stdout.decode()
    return sorted(jfr_ms(e["values"]["startTime"])
                  for e in json.loads(text)["recording"]["events"]
                  if e.get("type") == "jdk.ProcessStart")


def parse(events):
    """(triggers, executions) from the raw events.

    A trigger is {batch, start, end, phases}; an execution is {id, group,
    start, end, jobs: [(submitted, completed)]}, sorted by start. A job
    counts toward the execution it ran under; an execution takes its
    group from the start event, else from its jobs.
    """
    triggers, execs, jobs = [], {}, []
    for e in events:
        kind = e.get("Event")
        if kind == PROGRESS:
            p = e["progress"]
            if isinstance(p, str):
                p = json.loads(p)
            d = p.get("durationMs", {})
            rows = p.get("numInputRows",
                         sum(s.get("numInputRows", 0)
                             for s in p.get("sources", [])))
            if rows > 0 and "triggerExecution" in d:
                start = epoch_ms(p["timestamp"])
                triggers.append({"batch": p["batchId"], "start": start,
                                 "end": start + d["triggerExecution"],
                                 "phases": {k: d[k] for k in PHASES
                                            if k in d}})
        elif kind == SQL_START:
            execs[e["executionId"]] = {
                "id": e["executionId"], "group": e.get("jobGroupId"),
                "start": e["time"], "end": None, "jobs": []}
        elif kind == SQL_END:
            if e["executionId"] in execs:
                execs[e["executionId"]]["end"] = e["time"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs.append({"id": e["Job ID"], "submitted": e["Submission Time"],
                         "exec": props.get("spark.sql.execution.id"),
                         "group": props.get("spark.jobGroup.id")})
        elif kind == "SparkListenerJobEnd":
            for j in jobs:
                if j["id"] == e["Job ID"]:
                    j["completed"] = e["Completion Time"]
    for j in jobs:
        x = execs.get(int(j["exec"])) if j["exec"] is not None else None
        if x is not None and "completed" in j:
            x["jobs"].append((j["submitted"], j["completed"]))
            if x["group"] is None:
                x["group"] = j["group"]
    return triggers, sorted((x for x in execs.values()
                             if x["end"] is not None),
                            key=lambda x: (x["start"], x["id"]))


def breakdown(triggers, execs, groups, forks=None):
    """One row per trigger: its phases plus per-execution columns. An
    execution that runs inside a listed one of the same group (a nested
    execution) counts toward it. With `forks` (process start times),
    the trigger and each listed execution also count the ones that
    started inside them."""
    def started(lo, hi):
        return sum(1 for f in forks if lo <= f <= hi)
    rows = []
    for t in triggers:
        row = {"batch": t["batch"]}
        row.update(t["phases"])
        if forks is not None:
            row["forks"] = started(t["start"], t["end"])
        listed = []
        for x in execs:
            if x["group"] not in groups or \
                    not t["start"] <= x["start"] <= t["end"]:
                continue
            outer = next((o for o in listed if o["group"] == x["group"] and
                          o["start"] <= x["start"] and
                          x["end"] <= o["end"]), None)
            if outer is None:
                listed.append(dict(x, jobs=list(x["jobs"])))
            else:
                outer["jobs"] += x["jobs"]
        prev_end = t["start"]
        seen = {}
        for x in listed:
            seen[x["group"]] = seen.get(x["group"], 0) + 1
            label = f"{x['group']}.{seen[x['group']]}"
            first = min((s for s, _ in x["jobs"]), default=x["end"])
            last = max((c for _, c in x["jobs"]), default=first)
            row[f"{label}.gap"] = x["start"] - prev_end
            row[f"{label}.pre"] = first - x["start"]
            row[f"{label}.job"] = last - first
            row[f"{label}.n"] = len(x["jobs"])
            if forks is not None:
                row[f"{label}.forks"] = started(x["start"], x["end"])
            prev_end = x["end"]
        rows.append(row)
    return rows


def columns(rows):
    """Column order: batch, the stream phases, then execution columns in
    order of first appearance."""
    cols = ["batch"] + [p for p in PHASES if any(p in r for r in rows)]
    for r in rows:
        cols += [c for c in r if c not in cols]
    return cols


def medians(rows, cols):
    return {c: statistics.median([r[c] for r in rows if c in r])
            for c in cols[1:] if any(c in r for r in rows)}


def render(rows, cols, med):
    def cell(v):
        return "" if v is None else (f"{v:g}" if isinstance(v, float)
                                     else str(v))
    table = [cols] + [[cell(r.get(c)) for c in cols] for r in rows] + \
        [["median"] + [cell(med.get(c)) for c in cols[1:]]]
    widths = [max(len(line[i]) for line in table) for i in range(len(cols))]
    return "\n".join("  ".join(v.rjust(w) for v, w in zip(line, widths))
                     for line in table)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("eventlog")
    ap.add_argument("--groups", default="apply,view",
                    help="comma-separated job groups to list")
    ap.add_argument("--json", action="store_true")
    ap.add_argument("--jfr", metavar="RECORDING",
                    help="count the recording's process starts")
    a = ap.parse_args(argv)
    triggers, execs = parse(read_events(a.eventlog))
    rows = breakdown(triggers, execs, set(a.groups.split(",")),
                     read_forks(a.jfr) if a.jfr else None)
    if not rows:
        print("no data triggers in the log", file=sys.stderr)
        return 1
    cols = columns(rows)
    med = medians(rows, cols)
    if a.json:
        print(json.dumps({"triggers": rows, "median": med}))
    else:
        print(render(rows, cols, med))
    return 0


if __name__ == "__main__":
    sys.exit(main())
